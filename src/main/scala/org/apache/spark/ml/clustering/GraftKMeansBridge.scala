package org.apache.spark.ml.clustering

import org.apache.spark.mllib.clustering.{KMeansModel => MLlibKMeansModel}
import org.apache.spark.mllib.linalg.Vectors

/** The sanctioned bridge for constructing an [[KMeansModel]] from
  * explicit centers: the ml-package constructor is private[clustering],
  * but graft's coarse quantizer trains DRIVER-SIDE over the bounded
  * deterministic sample (one collect, ~20 ms of arithmetic) instead of
  * scheduling the ~15 tiny cluster jobs a distributed
  * `KMeans.fit` costs on a 4096-row single-partition sample — measured
  * ~1.5 s of pure job-scheduling latency per train, paid per
  * artifact-lifecycle statement (see graft.operators.Similarity
  * .trainQuantizer).
  *
  * Supported surface of the returned model: `clusterCenters` and
  * `transform` (both read only the center array — transform works
  * because the default featuresCol/predictionCol params plus the mllib
  * parent are all it touches).
  * NOT supported: anything `fit` would have populated — `summary`,
  * `trainingCost` — the bridge never sets them; a consumer reaching for
  * them gets the upstream "No training summary available" failure. */
object GraftKMeansBridge {
  def fromCenters(centers: Array[Array[Double]]): KMeansModel =
    new KMeansModel("graft-driver-lloyd",
      new MLlibKMeansModel(centers.map(Vectors.dense)))
}
