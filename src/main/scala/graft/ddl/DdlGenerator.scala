package graft.ddl

import graft.meta.{ConstraintMeta, TableMeta, TypeMapper}

/** PostgreSQL DDL generation from [[TableMeta]] — the Spark-side
  * re-expression of `PostgresDDLGenerator`
  * (`snowflake_to_postgres/translator.py:85-229`): CREATE SCHEMA/TABLE with
  * PK/UNIQUE inline, FKs as ALTER TABLE (emitted after all creates), COMMENT
  * statements, and the FK-dependency topological sort
  * (translator.py:197-221) so referenced tables are created first.
  */
object DdlGenerator {

  private def q(ident: String): String = "\"" + ident.toLowerCase + "\""

  def createSchema(schema: String): String =
    s"CREATE SCHEMA IF NOT EXISTS ${q(schema)}"

  def createTable(t: TableMeta): String = {
    val cols = t.columns.sortBy(_.ordinal).map { c =>
      val base = s"  ${q(c.name)} ${TypeMapper.toPostgres(c.dataType)}"
      val nn = if (c.nullable) "" else " NOT NULL"
      val dflt = c.defaultValue.map(d => s" DEFAULT $d").getOrElse("")
      base + nn + dflt
    }
    val pk =
      if (t.primaryKey.nonEmpty)
        Seq(s"  PRIMARY KEY (${t.primaryKey.map(q).mkString(", ")})")
      else Nil
    val uniques = t.uniqueConstraints.map(u =>
      s"  CONSTRAINT ${q(u.name)} UNIQUE (${u.columns.map(q).mkString(", ")})")
    val checks = t.checkConstraints.flatMap(c =>
      c.checkClause.map(cl => s"  CONSTRAINT ${q(c.name)} CHECK ($cl)"))
    val body = (cols ++ pk ++ uniques ++ checks).mkString(",\n")
    s"CREATE TABLE ${q(t.schema)}.${q(t.name)} (\n$body\n)"
  }

  def foreignKeys(t: TableMeta): Seq[String] =
    t.foreignKeys.flatMap { fk =>
      fk.referencedTable.map { ref =>
        s"ALTER TABLE ${q(t.schema)}.${q(t.name)} ADD CONSTRAINT ${q(fk.name)} " +
          s"FOREIGN KEY (${fk.columns.map(q).mkString(", ")}) " +
          s"REFERENCES ${q(t.schema)}.${q(ref)} (${fk.referencedColumns.map(q).mkString(", ")})"
      }
    }

  def comments(t: TableMeta): Seq[String] = {
    val tc = t.comment.map(c =>
      s"COMMENT ON TABLE ${q(t.schema)}.${q(t.name)} IS '${c.replace("'", "''")}'")
    val ccs = t.columns.flatMap(col => col.comment.map(c =>
      s"COMMENT ON COLUMN ${q(t.schema)}.${q(t.name)}.${q(col.name)} IS '${c.replace("'", "''")}'"))
    tc.toSeq ++ ccs
  }

  /** DFS topological sort by FK dependency — referenced tables first, cycles
    * broken at the back-edge (translator.py:197-221 semantics). */
  def topoSort(tables: Seq[TableMeta]): Seq[TableMeta] = {
    val byName = tables.map(t => t.name -> t).toMap
    val visited = scala.collection.mutable.LinkedHashSet[String]()
    val inStack = scala.collection.mutable.Set[String]()
    def visit(name: String): Unit =
      byName.get(name).foreach { t =>
        if (!visited.contains(name) && !inStack.contains(name)) {
          inStack += name
          t.foreignKeys.flatMap(_.referencedTable).distinct.foreach(visit)
          inStack -= name
          visited += name
        }
      }
    tables.foreach(t => visit(t.name))
    visited.toSeq.flatMap(byName.get)
  }

  /** Full schema DDL in execution order: schema, topo-sorted tables, FKs,
    * comments (translator.py:91-118). */
  def generateSchemaDdl(schema: String, tables: Seq[TableMeta]): Seq[String] = {
    val sorted = topoSort(tables)
    Seq(createSchema(schema)) ++
      sorted.map(createTable) ++
      sorted.flatMap(foreignKeys) ++
      sorted.flatMap(comments)
  }
}
