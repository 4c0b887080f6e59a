package graft.operators

import graft.Tables
import graft.functions.{bandBits, cosineSim, hyperplaneSig, l2Norm, vecDiv}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: media payloads ride as opaque `binary`
  * columns with typed metadata; decode / feature-extraction runs
  * per-partition over iterators (the Scala analogue of `mapInPandas`
  * batch UDFs — one codec instance per partition, streaming rows, no
  * driver involvement).
  *
  * The container has no image/audio libraries, so the actual byte→pixels
  * decode is STUBBED behind [[MediaCodec]] with a deterministic fake; the
  * Spark-side contract — schema, binary payload column, partition-wise
  * batch execution, feature vector output — is real and tested. Swapping
  * in a real codec changes one class.
  */
object Multimodal {


  /** Unit-normalized feature vectors off the decoded histogram — shared
    * by [[mediaNearDupPairs]] and [[mediaSemDedup]]. Every step is a
    * CODEGEN kernel or built-in (guide §4): the histogram cast is a plain
    * array cast, the norm is the codegen'd [[graft.functions.L2Norm]]
    * (bit-identical to sqrt(aggregate(hraw, 0D, (a, x) -> a + x*x)) —
    * same sequential double accumulation), and the divide is
    * [[graft.functions.VecDiv]]; the transform/aggregate HOF spellings
    * they replace were CodegenFallback (interpreted per element). */
  private def unitFeatures(decoded: DataFrame, idCol: String): DataFrame =
    decoded
      .select(col("doc_id"), col("histogram").cast("array<double>").as("hraw"))
      .withColumn("nrm", l2Norm(col("hraw")))
      .filter(col("nrm") > 0) // empty payloads have no features to compare
      .withColumn("embedding", vecDiv(col("hraw"), col("nrm")))
      .select(col("doc_id").as(idCol), col("embedding"))

  final case class Media(doc_id: Long, format: String, payload: Array[Byte])
  final case class MediaFeatures(
      doc_id: Long, format: String, n_bytes: Long,
      width: Int, height: Int, histogram: Array[Long])

  /** The decode seam. A real implementation would parse the container
    * format and return pixels/samples; the deterministic fake derives
    * metadata and a 16-bin byte histogram from the payload alone. */
  trait MediaCodec extends Serializable {
    def decode(m: Media): MediaFeatures
  }
  object DeterministicFakeCodec extends MediaCodec {
    def decode(m: Media): MediaFeatures = {
      // STUB: stands in for real image/audio decoding (no codec libs in
      // this environment). Deterministic so results are reproducible.
      val hist = new Array[Long](16)
      var i = 0
      while (i < m.payload.length) { hist((m.payload(i) & 0xf0) >>> 4) += 1; i += 1 }
      val w = 64 + (m.payload.length % 512)
      val h = 64 + ((m.payload.length / 7) % 512)
      MediaFeatures(m.doc_id, m.format, m.payload.length.toLong, w, h, hist)
    }
  }

  /** Partition-wise decode + feature extraction over any
    * `(doc_id, format, payload: binary)` frame: one codec instance per
    * partition, rows streamed through it — the DataFrame-first public
    * API; swap the codec to integrate a real decoder. */
  def decodeFeatures(media: DataFrame, codec: MediaCodec = DeterministicFakeCodec): DataFrame = {
    val s = media.sparkSession
    import s.implicits._
    media.as[Media]
      .mapPartitions { it =>
        // one codec per partition (mirrors batch-UDF lifecycle: init
        // once, stream the partition through it)
        it.map(codec.decode)
      }
      .toDF()
  }

  /** FRAME sampling over the binary payload — the video/audio analogue of
    * image resize: cut the payload into fixed-size frames and keep every
    * `stride`-th one, each with its byte slice. This is the materialized
    * per-frame layout a frame-level feature extractor (or the codec seam
    * above) consumes; with a real container codec, frame boundaries come
    * from the demuxer instead of a fixed grid — same schema either way.
    *
    * Pure codegen plumbing: `sequence` + `explode` + binary `substring` —
    * no UDF, no shuffle; a doc's frames are emitted where its payload row
    * lives. Empty payloads emit no frames (explode of an empty sequence).
    * Returns (doc_id, frame_idx, n_bytes, frame: binary). */
  def sampleFrames(media: DataFrame, frameSize: Int, stride: Int): DataFrame = {
    require(frameSize > 0 && stride > 0, "frameSize and stride must be positive")
    media
      .withColumn("n_frames",
        ceil(octet_length(col("payload")) / lit(frameSize.toDouble)).cast("bigint"))
      .withColumn("frame_idx",
        explode(when(col("n_frames") > 0,
          sequence(lit(0L), col("n_frames") - 1, lit(stride.toLong)))
          .otherwise(array().cast("array<bigint>"))))
      .withColumn("frame",
        expr(s"substring(payload, frame_idx * $frameSize + 1, $frameSize)"))
      .select(col("doc_id"), col("frame_idx"),
        octet_length(col("frame")).cast("bigint").as("n_bytes"), col("frame"))
  }

  /** documents → media rows: payload is the UTF-8 bytes standing in for an
    * encoded asset; format assigned deterministically. */
  private def media(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
      .select(
        col("doc_id"),
        when(col("doc_id") % 3 === 0, "png")
          .when(col("doc_id") % 3 === 1, "jpeg")
          .otherwise("wav").as("format"),
        col("text").cast("binary").as("payload"))

  val queries: Seq[NamedQuery] = Seq(

    // metadata projection over the binary column — stays in codegen; the
    // oracle checks byte length + format routing.
    NamedQuery(
      "m01_mm_meta",
      Some(
        "SELECT doc_id, CASE WHEN doc_id % 3 = 0 THEN 'png' WHEN doc_id % 3 = 1 THEN 'jpeg' " +
          "ELSE 'wav' END AS format, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes " +
          "FROM documents ORDER BY doc_id"),
      (s, dir) =>
        media(s, dir)
          .select(col("doc_id"), col("format"),
            octet_length(col("payload")).cast("bigint").as("n_bytes"))
          .orderBy(col("doc_id"))),

    // partition-wise decode + feature extraction through the codec seam.
    // The 16-bin histogram is emitted as scalar columns h0..h15 (not an
    // array) so the result is hash-comparable; the fake codec is pure byte
    // math, so DuckDB can replicate it exactly — each byte's high nibble is
    // the first hex char of that byte in hex(encode(text)).
    NamedQuery(
      "m02_mm_features",
      Some {
        val hexDigit = (0 until 16).map(i => f"$i%X")
        val bins = hexDigit.zipWithIndex.map { case (d, i) =>
          s"CAST(nb - length(replace(hi, '$d', '')) AS BIGINT) AS h$i"
        }.mkString(", ")
        "WITH b AS (SELECT doc_id, " +
          "CASE WHEN doc_id % 3 = 0 THEN 'png' WHEN doc_id % 3 = 1 THEN 'jpeg' ELSE 'wav' END AS format, " +
          "octet_length(encode(text)) AS nb, " +
          // keep the first hex char of every byte = the high nibble stream
          "regexp_replace(hex(encode(text)), '(.)(.)', '\\1', 'g') AS hi FROM documents) " +
          "SELECT doc_id, format, CAST(nb AS BIGINT) AS n_bytes, " +
          "CAST(64 + nb % 512 AS INT) AS width, CAST(64 + (nb // 7) % 512 AS INT) AS height, " +
          bins + " FROM b ORDER BY doc_id"
      },
      (s, dir) => {
        val binCols = (0 until 16).map(i => col("histogram")(i).as(s"h$i"))
        decodeFeatures(media(s, dir))
          .select(Seq(col("doc_id"), col("format"), col("n_bytes"),
            col("width"), col("height")) ++ binCols: _*)
          .orderBy(col("doc_id"))
      }),

    // resize + frame-sample plumbing: decode through the codec seam, then
    // aspect-preserving resize to a 224 box and an 8-frame sampling plan
    // (frame = 1 KiB of payload in the fake codec). All integer math, so
    // the DuckDB oracle replays it from octet_length alone — the real
    // codec would swap in behind the same schema.
    NamedQuery(
      "m03_mm_resize",
      Some(
        "WITH b AS (SELECT doc_id, octet_length(encode(text)) AS nb FROM documents), " +
          "d AS (SELECT doc_id, nb, 64 + nb % 512 AS w, 64 + (nb // 7) % 512 AS h, " +
          "greatest(1, nb // 1024) AS n_frames FROM b) " +
          "SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height, " +
          "CAST(floor(w * 224 / greatest(w, h)) AS INT) AS resized_w, " +
          "CAST(floor(h * 224 / greatest(w, h)) AS INT) AS resized_h, " +
          "CAST(n_frames AS BIGINT) AS n_frames, " +
          "CAST(least(8, n_frames) AS BIGINT) AS n_sampled, " +
          "CAST(n_frames // least(8, n_frames) AS BIGINT) AS frame_stride " +
          "FROM d ORDER BY doc_id"),
      (s, dir) => {
        decodeFeatures(media(s, dir))
          .withColumn("n_frames", greatest(lit(1L), expr("n_bytes div 1024")))
          .withColumn("n_sampled", least(lit(8L), col("n_frames")))
          .select(
            col("doc_id"), col("width"), col("height"),
            floor(col("width") * 224 / greatest(col("width"), col("height"))).cast("int").as("resized_w"),
            floor(col("height") * 224 / greatest(col("width"), col("height"))).cast("int").as("resized_h"),
            col("n_frames"), col("n_sampled"),
            expr("n_frames div n_sampled").as("frame_stride"))
          .orderBy(col("doc_id"))
      }),

    // materialized frame sampling: 32-byte frames, every 4th kept. The
    // driver-visible columns are the frame GRID (index + exact byte count
    // per sampled frame, tail truncation included) — DuckDB replays the
    // grid from octet_length alone; frame CONTENT (the binary slices,
    // byte-exact reassembly) is pinned by OperatorsSpec, since this
    // DuckDB build has no blob slicing/hashing to replay it.
    NamedQuery(
      "m04_mm_frames",
      Some(
        "WITH m AS (SELECT doc_id, octet_length(encode(text)) AS nb FROM documents), " +
          "f AS (SELECT doc_id, nb, unnest(range(0, CAST(ceil(nb / 32.0) AS BIGINT))) AS j FROM m) " +
          "SELECT doc_id, j AS frame_idx, CAST(least(32, nb - 32 * j) AS BIGINT) AS n_bytes " +
          "FROM f WHERE j % 4 = 0 ORDER BY doc_id, frame_idx"),
      (s, dir) =>
        sampleFrames(media(s, dir), frameSize = 32, stride = 4)
          .select(col("doc_id"), col("frame_idx"), col("n_bytes"))
          .orderBy(col("doc_id"), col("frame_idx"))),

    // exact media dedup: content-addressed on the payload digest, keep
    // the min doc_id per distinct asset with its copy count. The oracle
    // groups by the raw bytes (payload = encode(text)), so a hash match
    // also certifies the digest has no collisions on this corpus.
    NamedQuery(
      "m05_mm_dedup",
      Some(
        "SELECT min(doc_id) AS doc_id, CAST(count(*) AS BIGINT) AS n_copies " +
          "FROM documents GROUP BY text ORDER BY doc_id"),
      (s, dir) => mediaDedup(media(s, dir)).orderBy(col("doc_id"))),

    // perceptual dedup gate, upgraded to a FULL VALUE oracle (r14
    // VERDICT task 4): plant a BYTE-PERMUTED copy (reversed text,
    // id+1e6) of every doc_id<25 asset — different payload bytes (m05's
    // digest treats it as new), identical byte histogram → equal
    // feature vectors that co-assign, pair at cosine 1, and prune to
    // the smaller id. The quantizer is the SEEDED (sha-fold) variant,
    // so DuckDB replays the whole chain bit-for-bit: the m02 hex-trick
    // histogram, the explicit-order normalization, seed selection,
    // list_distance argmin assignment, and the cell-scoped cosine
    // prune — every kept (doc_id, cell) value-checked, subsuming the
    // old constant verdicts (a planted survivor or a missed identical
    // pair now reds the hash by construction).
    NamedQuery(
      "m06_mm_neardup",
      Some(mediaSemDedupOracleSql),
      (s, dir) => {
        val m = media(s, dir)
        val planted = m.filter(col("doc_id") < 25)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("format"),
            reverse(col("payload").cast("string")).cast("binary").as("payload"))
        mediaSemDedup(m.unionByName(planted), tau = 0.99, seeded = true)
          .orderBy(col("doc_id"))
      }),

    // the PAIR operator's own gate (m06 gates only the keep/drop shape),
    // upgraded to a FULL VALUE oracle (r14 VERDICT task 4): a bounded
    // 25-asset slice plus a byte-permuted copy of each — the permutation
    // preserves the byte histogram, so every planted pair surfaces at
    // similarity exactly 1. The hyperplane signatures ARE replayable:
    // the 32×16 projection components are model CONSTANTS
    // (mix64-derived), so the oracle inlines them as literals and
    // recomputes every sign bit, band bucket, lowest-agreeing-band
    // filter, cosine verify, and clone fan-back — every (id_a, id_b,
    // sim) row value-checked, subsuming the old constant verdicts.
    // Input is bounded by construction — the operator's documented
    // quadratic degeneration on clustered feature spaces is exactly why
    // the full-corpus deliverable is m06's mediaSemDedup, not this pair
    // list.
    NamedQuery(
      "m07_mm_neardup_pairs",
      Some(mediaPairsOracleSql),
      (s, dir) => {
        val m = media(s, dir).filter(col("doc_id") < 25)
        // permute payload BYTES via the hex spelling — a binary→string
        // cast would smash non-UTF-8 byte sequences to U+FFFD, breaking
        // the histogram-preserving property if the driver regenerates
        // media payloads as true binary
        val planted = m
          .select((col("doc_id") + 1000000L).as("doc_id"), col("format"),
            unhex(array_join(
              reverse(expr("regexp_extract_all(hex(payload), '..', 0)")), ""))
              .as("payload"))
        mediaNearDupPairs(m.unionByName(planted), tau = 0.99)
          .orderBy(col("id_a"), col("id_b"))
      })
  )

  // ---------- DuckDB oracle builders (value-level replays) ----------

  /** The 16-entry byte-histogram list off the m02 hex trick: `hi` is the
    * high-nibble char stream of the payload bytes, so bin d's count is
    * the number of 'd' chars. */
  private def histListSql: String =
    (0 until 16).map(i => f"$i%X")
      .map(d => s"CAST(nb - length(replace(hi, '$d', '')) AS DOUBLE)")
      .mkString("[", ", ", "]")

  /** Explicit index-order L2 norm / unit vector — the same sequential
    * accumulation as the Spark `aggregate`/`transform` spelling, so the
    * doubles match bit-for-bit. */
  private def normSql: String =
    (1 to 16).map(i => s"hr[$i]*hr[$i]").mkString("sqrt(", " + ", ")")
  private def unitSql: String =
    (1 to 16).map(i => s"hr[$i]/nrm").mkString("[", ", ", "]")

  /** m06's oracle: histogram features → unit vectors (originals plus the
    * +1e6 planted copies, which share the original's histogram — byte
    * reversal preserves the byte multiset), sha-fold seed selection at
    * the √n sizing rule, list_distance argmin assignment, and the
    * cell-scoped SemDeDup prune — kept (doc_id, cell), full values. */
  private[operators] lazy val mediaSemDedupOracleSql: String =
    "WITH b0 AS (SELECT doc_id, octet_length(encode(text)) AS nb, " +
      "regexp_replace(hex(encode(text)), '(.)(.)', '\\1', 'g') AS hi FROM documents), " +
      s"h AS (SELECT doc_id, nb, $histListSql AS hr FROM b0), " +
      "hv AS (SELECT doc_id AS vec_id, hr FROM h WHERE nb > 0 " +
      "UNION ALL SELECT doc_id + 1000000, hr FROM h WHERE nb > 0 AND doc_id < 25), " +
      s"n1 AS (SELECT vec_id, hr, $normSql AS nrm FROM hv), " +
      s"v AS (SELECT vec_id, $unitSql AS e FROM n1), " +
      "kk AS (SELECT GREATEST(8, LEAST(CAST(FLOOR(SQRT(CAST(count(*) AS DOUBLE))) AS BIGINT), 1024)) AS k FROM v), " +
      s"sk AS (SELECT vec_id, e, ${Similarity.shaFoldSql("vec_id")} AS hk FROM v), " +
      "cents AS (SELECT cell, c FROM (SELECT CAST(row_number() OVER (ORDER BY hk, vec_id) - 1 AS INT) AS cell, " +
      "e AS c FROM sk) WHERE cell < (SELECT k FROM kk)), " +
      "asg AS (SELECT vec_id, cell, e FROM (SELECT s.vec_id, c.cell, s.e, " +
      "row_number() OVER (PARTITION BY s.vec_id ORDER BY list_distance(s.e, c.c), c.cell) AS rn " +
      "FROM sk s CROSS JOIN cents c) WHERE rn = 1), " +
      "grp AS (SELECT cell, e, min(vec_id) AS gid FROM asg GROUP BY cell, e), " +
      "drp AS (SELECT DISTINCT b.gid FROM grp a JOIN grp b ON a.cell = b.cell AND a.gid < b.gid " +
      "AND list_cosine_similarity(a.e, b.e) > 0.99) " +
      "SELECT vec_id AS doc_id, cell FROM asg WHERE vec_id IN (SELECT gid FROM grp) " +
      "AND vec_id NOT IN (SELECT gid FROM drp) ORDER BY doc_id"

  /** m07's oracle: the full LSH pair replay. The random-hyperplane
    * components are deterministic mix64 constants of (bit, dim-index) —
    * model metadata, inlined below as literals — so every sign bit is
    * an explicit 16-term ordered dot product; banding, the
    * lowest-agreeing-band uniqueness filter, the cosine verify, and the
    * identical-vector clone fan-back all replay in plain SQL. */
  private[operators] lazy val mediaPairsOracleSql: String = {
    def comp(b: Int, i: Int): Double =
      graft.functions.Hashing.mix64(
        graft.functions.Hashing.seed(b) ^ (0x9e3779b97f4a7c15L * (i + 1)))
        .toDouble / Long.MaxValue.toDouble
    def dot(b: Int): String =
      (1 to 16).map(i => s"e[$i]*(${comp(b, i - 1)})").mkString(" + ")
    val sig = (0 until 32)
      .map(b => s"(CASE WHEN ${dot(b)} >= 0 THEN ${1L << b} ELSE 0 END)")
      .mkString(" + ")
    val firstMatch = (0 until 8).map { bnd =>
      val earlier = (0 until bnd)
        .map(j => s"((a.sig >> ${j * 4}) & 15) <> ((b.sig >> ${j * 4}) & 15)")
      (s"a.band = $bnd" +: earlier).mkString("(", " AND ", ")")
    }.mkString(" OR ")
    "WITH b0 AS (SELECT doc_id, octet_length(encode(text)) AS nb, " +
      "regexp_replace(hex(encode(text)), '(.)(.)', '\\1', 'g') AS hi FROM documents WHERE doc_id < 25), " +
      s"h AS (SELECT doc_id, nb, $histListSql AS hr FROM b0), " +
      "hv AS (SELECT doc_id, hr FROM h WHERE nb > 0 " +
      "UNION ALL SELECT doc_id + 1000000, hr FROM h WHERE nb > 0), " +
      s"n1 AS (SELECT doc_id, hr, $normSql AS nrm FROM hv), " +
      s"v AS (SELECT doc_id, $unitSql AS e FROM n1), " +
      "grp AS (SELECT e, min(doc_id) AS gid FROM v GROUP BY e), " +
      "mem AS (SELECT v.doc_id, g.gid FROM v JOIN grp g ON v.e = g.e), " +
      s"sg AS (SELECT gid, e, CAST($sig AS BIGINT) AS sig FROM grp), " +
      "bd AS (SELECT gid, e, sig, u AS band, (sig >> (u * 4)) & 15 AS bucket " +
      "FROM sg, (SELECT unnest(range(0, 8)) AS u)), " +
      "rp AS (SELECT a.gid AS ga, b.gid AS gb, a.e AS ea, b.e AS eb FROM bd a JOIN bd b " +
      "ON a.band = b.band AND a.bucket = b.bucket AND a.gid < b.gid AND (" + firstMatch + ")), " +
      "rc AS (SELECT ga, gb, list_cosine_similarity(ea, eb) AS raw FROM rp), " +
      s"rr AS (SELECT ga, gb, ${OracleRound.stableRoundSql("raw", 4)} AS sim FROM rc WHERE raw >= 0.99), " +
      "crossp AS (SELECT least(ma.doc_id, mb.doc_id) AS id_a, greatest(ma.doc_id, mb.doc_id) AS id_b, sim " +
      "FROM rr JOIN mem ma ON ma.gid = rr.ga JOIN mem mb ON mb.gid = rr.gb), " +
      "intra AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b, CAST(1.0 AS DOUBLE) AS sim " +
      "FROM mem x JOIN mem y ON x.gid = y.gid AND x.doc_id < y.doc_id) " +
      "SELECT id_a, id_b, sim FROM (SELECT * FROM crossp UNION ALL SELECT * FROM intra) " +
      "ORDER BY id_a, id_b"
  }

  /** Exact MEDIA dedup — the d01 content-address rule over the binary
    * payload column: keep the min doc_id per distinct asset, with the
    * copy count a storage-reclaim report reads. The shuffle carries
    * 32-byte sha2 digests, never payload bytes — at 100 TB of media that
    * is a metadata-sized exchange instead of re-shipping the corpus. */
  def mediaDedup(media: DataFrame): DataFrame =
    media.groupBy(sha2(col("payload"), 256).as("digest"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
      .select(col("doc_id"), col("n_copies"))

  /** PERCEPTUAL near-dup pairs over the decoded FEATURE space — the
    * "same asset, different container bytes" case [[mediaDedup]]'s exact
    * digest can never see (a re-mux / byte permutation / benign
    * re-encode changes the payload, not the content features). Features
    * come through the codec seam, L2-normalize to unit vectors,
    * exact-duplicate vectors collapse to their min-id rep (the d10/d16
    * content-collapse discipline — a viral asset costs its distinct
    * features, not its copies), reps band by 32-bit hyperplane signature
    * (8×4-bit bands, the s02 index), banded candidates verify at cosine
    * ≥ `tau`, and clone groups fan back arithmetically at similarity
    * exactly 1. Returns (id_a, id_b, sim).
    *
    * Scale shape: the pair join runs over distinct (band, bucket)
    * collisions of DISTINCT vectors; fan-back joins carry
    * (gid, doc_id, sim) scalars. Identical-feature recall is
    * DETERMINISTIC (equal vectors share every band); near-but-unequal
    * recall is the standard LSH trade-off — raise bands/bits for more.
    *
    * CAVEAT — clustered feature spaces: random hyperplanes split a
    * corpus whose vectors point the same way (e.g. byte histograms of
    * same-script text) into a FEW hot buckets, and the pair OUTPUT
    * itself goes quadratic when most pairs clear `tau` (measured 17 s at
    * sf0.1 on exactly that shape). When the deliverable is a keep/drop
    * set rather than the pair list, use [[mediaSemDedup]] — trained
    * cells split clustered data adaptively and the output is linear.
    *
    * `maxCandidatePairs` caps the BANDED candidate-pair volume — each
    * unique rep pair is counted once per (band, bucket) it collides in,
    * so a pair agreeing in all 8 bands contributes 8 slots and the cap
    * trips at roughly 1/8 of the nominal unique-pair count on
    * duplicate-heavy corpora. That overcount is intentional: banded
    * slots, not unique pairs, are what the self-join below actually
    * materializes and pays for. NOTE: computing the breaker count runs
    * an eager Spark job (the decode chain up to the rep relation) at
    * DataFrame-CONSTRUCTION time; pass `maxCandidatePairs =
    * Long.MaxValue` to opt out and keep this a lazy plan builder. */
  def mediaNearDupPairs(media: DataFrame, tau: Double = 0.99,
      codec: MediaCodec = DeterministicFakeCodec,
      maxCandidatePairs: Long = 10000000L): DataFrame = {
    import OracleRound.stableRound
    val v = unitFeatures(decodeFeatures(media, codec), "doc_id")
    val grp = v.groupBy(col("embedding"))
      .agg(min(col("doc_id")).as("gid"), count(lit(1)).as("cnt"))
      .localCheckpoint()
    val members = v.join(grp.select(col("embedding"), col("gid")), Seq("embedding"))
      .select(col("gid"), col("doc_id"))
    val banded = grp
      .withColumn("sig", hyperplaneSig(col("embedding"), 32))
      .select(col("gid"), col("embedding"), col("sig"),
        posexplode(bandBits(col("sig"), 8, 4))
          .as(Seq("band", "bucket")))
    // CIRCUIT BREAKER for the documented quadratic degeneration on
    // clustered feature spaces (all vectors one direction → few hot
    // buckets → pair volume quadratic in the corpus): count the banded
    // candidate-pair volume (band-multiplicity slots — a unique pair is
    // counted once per agreeing band; see scaladoc) BEFORE the self-join
    // and refuse to run it past the cap. The count is a bounded 1-row
    // driver aggregate over the already-checkpointed rep relation (the
    // insert-stats shape), not a corpus collect. Skipped entirely at
    // cap = Long.MaxValue so plan-composition callers stay lazy.
    if (maxCandidatePairs != Long.MaxValue) {
      val candidatePairs = banded.groupBy(col("band"), col("bucket"))
        .agg(count(lit(1)).as("c"))
        .agg(coalesce(sum(expr("(c * (c - 1)) DIV 2")), lit(0L)).as("pairs"))
        .head().getLong(0)
      if (candidatePairs > maxCandidatePairs)
        throw new IllegalStateException(
          s"graft_media_neardup: $candidatePairs banded LSH candidate-pair slots " +
            s"(unique pairs counted once per agreeing band, up to 8x) exceed the " +
            s"$maxCandidatePairs cap — the feature space is clustered into few " +
            "buckets and the pair list would be quadratic in the corpus; use " +
            "graft_media_semdedup (trained-quantizer keep/drop, linear output) " +
            "for clustered spaces, or raise maxCandidatePairs explicitly " +
            "(Long.MaxValue skips the breaker and its eager count job)")
    }
    // lowest-agreeing-band filter (the lshTopK discipline): unique pairs
    // by construction, no distinct() re-shuffling vectors
    val firstMatch = (0 until 8).map { bnd =>
      val earlierDiffer = (0 until bnd)
        .map(j => s"(shiftright(a.sig, ${j * 4}) & 15) != (shiftright(b.sig, ${j * 4}) & 15)")
      (s"a.band = $bnd" +: earlierDiffer).mkString("(", " AND ", ")")
    }.mkString(" OR ")
    val repPairs = banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.gid") < col("b.gid"))
      .filter(expr(firstMatch))
      .select(col("a.gid").as("id_a"), col("b.gid").as("id_b"),
        col("a.embedding").as("q_emb"), col("b.embedding").as("b_emb"))
      .withColumn("raw", cosineSim(col("q_emb"), col("b_emb")))
      .filter(col("raw") >= tau)
      .select(col("id_a"), col("id_b"), stableRound(col("raw"), 4).as("sim"))
    val cross = repPairs
      .join(members.select(col("gid").as("id_a"), col("doc_id").as("da")), "id_a")
      .join(members.select(col("gid").as("id_b"), col("doc_id").as("db")), "id_b")
      .select(least(col("da"), col("db")).as("id_a"),
        greatest(col("da"), col("db")).as("id_b"), col("sim"))
    val dm = members.join(grp.filter(col("cnt") > 1).select(col("gid")), Seq("gid"), "left_semi")
    val intra = dm.as("x")
      .join(dm.as("y"), col("x.gid") === col("y.gid") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"), lit(1.0).as("sim"))
    cross.unionByName(intra)
  }

  /** Perceptual media DEDUP — the keep/drop deliverable over the decoded
    * feature space: normalize features to unit vectors, train a
    * √n-scaled coarse quantizer, cell-scoped semantic prune at cosine
    * ≥ `tau` (the d10 SemDeDup machinery verbatim, so identical-feature
    * assets collapse to one distinct vector BEFORE the in-cell pair
    * stage). Returns kept (doc_id, cell). Unlike [[mediaNearDupPairs]]
    * the output is LINEAR in assets and trained cells split a clustered
    * feature space adaptively — this is the shape to bench and the one a
    * curation pass consumes. */
  def mediaSemDedup(media: DataFrame, tau: Double = 0.99, cells: Int = 0,
      codec: MediaCodec = DeterministicFakeCodec, seeded: Boolean = false): DataFrame = {
    val v = unitFeatures(decodeFeatures(media, codec), "vec_id")
      .localCheckpoint() // quantizer sample + assignment + pair sides share one decode
    // seeded = the sha-fold deterministic quantizer (bit-replayable by a
    // DuckDB oracle — m06's gate); default stays the trained k-means
    val assigned =
      if (seeded) graft.operators.Similarity.seededCells(v, cells)
      else graft.operators.Similarity.quantizedCells(v, cells)
    Dedup.semDedup(assigned, tau)
      .select(col("vec_id").as("doc_id"), col("cell"))
  }
}
