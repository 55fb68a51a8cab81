package graft.meta

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._

/** Catalog metadata model — the Spark re-expression of the reference's
  * dataclasses (`snowflake_to_postgres/discovery.py:12-97`). Spark enforces
  * no PK/FK/UNIQUE constraints, so they ride along as metadata used by DDL
  * generation ([[graft.ddl.DdlGenerator]]) and validation
  * ([[graft.validate.Validator]]).
  */
final case class ConstraintMeta(
    name: String,
    constraintType: String, // PRIMARY KEY | FOREIGN KEY | UNIQUE | CHECK
    columns: Seq[String],
    referencedTable: Option[String] = None,
    referencedColumns: Seq[String] = Nil,
    checkClause: Option[String] = None)

/** Mirrors `Column` (discovery.py:19-31); `dataType` is the Spark type. */
final case class ColumnMeta(
    name: String,
    dataType: DataType,
    nullable: Boolean = true,
    defaultValue: Option[String] = None,
    comment: Option[String] = None,
    ordinal: Int = 0)

/** Mirrors `Table` (discovery.py:56-69). */
final case class TableMeta(
    name: String,
    schema: String,
    columns: Seq[ColumnMeta],
    primaryKey: Seq[String] = Nil,
    foreignKeys: Seq[ConstraintMeta] = Nil,
    uniqueConstraints: Seq[ConstraintMeta] = Nil,
    checkConstraints: Seq[ConstraintMeta] = Nil,
    comment: Option[String] = None,
    rowCount: Option[Long] = None)

/** Mirrors `Schema` (discovery.py:88-97). */
final case class SchemaMeta(
    name: String,
    database: String,
    tables: Seq[TableMeta],
    views: Map[String, String] = Map.empty)

object TableMeta {
  /** Discover a TableMeta from a DataFrame's resolved schema — identifiers
    * normalized to lowercase like the reference (discovery.py:147, 237). */
  def fromDataFrame(name: String, schema: String, df: DataFrame): TableMeta =
    TableMeta(
      name = name.toLowerCase,
      schema = schema.toLowerCase,
      columns = df.schema.fields.zipWithIndex.map { case (f, i) =>
        ColumnMeta(f.name.toLowerCase, f.dataType, f.nullable, ordinal = i + 1)
      }.toSeq)
}
