package graft.engine

/** Error shapes mirroring the reference's SqlError ADT
  * (reference: src/sql/error.rs). Message wording follows the reference's
  * Display impls where tests observe them.
  */
final case class SqlError(kind: SqlError.Kind, message: String) extends RuntimeException(message)

object SqlError {
  sealed trait Kind
  case object Invalid extends Kind
  case object Unsupported extends Kind
  case object Unimplemented extends Kind
  case object Unexpected extends Kind
  case object NoStatement extends Kind
  case object MultipleStatements extends Kind
  case object DatabaseNotExists extends Kind
  case object DatabaseAlreadyExists extends Kind
  case object SchemaNotExists extends Kind
  case object TableNotExists extends Kind
  case object TableAlreadyExists extends Kind
  case object MissingColumn extends Kind
  case object NotNullableColumn extends Kind
  case object MismatchColumnType extends Kind
  case object UniqueKeyAlreadyExists extends Kind
  case object Conflict extends Kind

  def invalid(msg: String): SqlError = SqlError(Invalid, s"invalid: $msg")
  def unsupported(msg: String): SqlError = SqlError(Unsupported, s"unsupported: $msg")
  def unimplemented(msg: String): SqlError = SqlError(Unimplemented, s"unimplemented: $msg")
  def unexpected(msg: String): SqlError = SqlError(Unexpected, s"unexpected error: $msg")
  def noStatement: SqlError = SqlError(NoStatement, "no statement")
  def multipleStatements: SqlError = SqlError(MultipleStatements, "multiple statements")
  def databaseNotExists(name: String): SqlError =
    SqlError(DatabaseNotExists, s"database $name not exists")
  def databaseAlreadyExists(name: String): SqlError =
    SqlError(DatabaseAlreadyExists, s"database $name already exists")
  def schemaNotExists(name: String): SqlError =
    SqlError(SchemaNotExists, s"schema $name not exists")
  def tableNotExists(name: String): SqlError =
    SqlError(TableNotExists, s"table $name not exists")
  def tableAlreadyExists(name: String): SqlError =
    SqlError(TableAlreadyExists, s"table $name already exists")
  def missingColumn(column: String): SqlError =
    SqlError(MissingColumn, s"missing column $column")
  def notNullableColumn(table: String, column: String): SqlError =
    SqlError(NotNullableColumn, s"column $column of table $table is not nullable")
  def mismatchColumnType(table: String, column: String, expect: String, actual: String): SqlError =
    SqlError(MismatchColumnType,
      s"column $column of table $table expects type $expect, but got $actual")
  def uniqueKeyAlreadyExists(table: String, index: String): SqlError =
    SqlError(UniqueKeyAlreadyExists, s"unique key already exists in index $index of table $table")
  /** Another writer committed first; the statement published nothing and
    * can be retried as it is. */
  def conflict(what: String): SqlError =
    SqlError(Conflict, s"commit conflict: $what; retry the statement")
}
