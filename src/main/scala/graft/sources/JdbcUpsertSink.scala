package graft.sources

import org.apache.spark.sql.types._

/** The reference's load side (SURVEY §1.1/§3.1) in its PostgreSQL
  * dialect: table creation from a described schema, schema-drift
  * ALTERs, the keyed upsert (`INSERT … ON CONFLICT (pk) DO UPDATE`),
  * the tombstone DELETE, and the jsonb rendering. This object only
  * renders SQL; [[PgDialect]] executes it through [[JdbcExec]]'s
  * per-partition write, the same path the Derby dialect runs. No
  * PostgreSQL server exists offline, so PgDialectSpec executes the PG
  * statements against a recording fake connection.
  */
object JdbcUpsertSink {

  /** Spark → PostgreSQL type map (the §1.1 table, target side). */
  def pgType(dt: DataType): String = dt match {
    case StringType => "text"
    case BooleanType => "boolean"
    case ByteType | ShortType | IntegerType => "integer"
    case LongType => "bigint"
    case FloatType => "real"
    case DoubleType => "double precision"
    case d: DecimalType => s"numeric(${d.precision},${d.scale})"
    case DateType => "date"
    case TimestampType => "timestamptz"
    case TimestampNTZType => "timestamp"
    case BinaryType => "bytea"
    case ArrayType(et, _) => et match {
      // Complex-element arrays bind as jsonb elements (JdbcExec.bindPg
      // renders each element as JSON text against createArrayOf("jsonb")),
      // so the DDL must agree: jsonb[] — not bigint[][]-style nesting the
      // bind would then fail against on a live server (ADVICE r17).
      case _: MapType | _: StructType | _: ArrayType => "jsonb[]"
      case _ => s"${pgType(et)}[]"
    }
    case _: MapType | _: StructType => "jsonb"
    case other => throw new IllegalArgumentException(s"unmapped type $other")
  }

  private def q(ident: String): String = "\"" + ident.replace("\"", "\"\"") + "\""

  /** CREATE TABLE IF NOT EXISTS from a StructType (describe()-driven
    * DDL generation). */
  def createTableSql(table: String, schema: StructType,
                     pk: Seq[String] = Nil): String = {
    val cols = schema.fields.map { f =>
      val nn = if (f.nullable) "" else " NOT NULL"
      s"${q(f.name)} ${pgType(f.dataType)}$nn"
    }
    val pkc = if (pk.nonEmpty) Seq(s"PRIMARY KEY (${pk.map(q).mkString(", ")})")
              else Nil
    s"CREATE TABLE IF NOT EXISTS ${q(table)} (${(cols ++ pkc).mkString(", ")})"
  }

  /** Schema-drift handling: ALTER TABLE ADD COLUMN for new fields. */
  def addColumnsSql(table: String, newFields: Seq[StructField]): Seq[String] =
    newFields.map(f =>
      s"ALTER TABLE ${q(table)} ADD COLUMN IF NOT EXISTS " +
        s"${q(f.name)} ${pgType(f.dataType)}")

  /** Parameterized INSERT … ON CONFLICT (pk) DO UPDATE — the MERGE
    * statement executed per row batch.
    *
    * `conflictWhere` renders a PARTIAL-INDEX conflict target —
    * `ON CONFLICT (cols) WHERE pred DO …` — for targets whose unique
    * index is partial (e.g. `UNIQUE (id) WHERE NOT is_deleted`):
    * PostgreSQL requires the inference predicate to match the index's
    * WHERE clause or it rejects the statement at parse/plan time.
    * Offline residual (r17, VERDICT r16 item 7): we can only assert
    * the RENDERING — that the predicate lands between the column list
    * and DO, unquoted — not live PG's index-inference acceptance. */
  def upsertSql(table: String, schema: StructType, pk: Seq[String],
                conflictWhere: Option[String] = None): String = {
    val cols = schema.fieldNames.toSeq
    val nonPk = cols.filterNot(pk.contains)
    val updates =
      if (nonPk.isEmpty) "NOTHING"
      else "UPDATE SET " + nonPk.map(c => s"${q(c)} = EXCLUDED.${q(c)}").mkString(", ")
    val target = s"(${pk.map(q).mkString(", ")})" +
      conflictWhere.map(p => s" WHERE $p").getOrElse("")
    s"INSERT INTO ${q(table)} (${cols.map(q).mkString(", ")}) " +
      s"VALUES (${cols.map(_ => "?").mkString(", ")}) " +
      s"ON CONFLICT $target DO $updates"
  }

  /** Deterministic JSON text for a `jsonb` bind (maps/structs, and
    * complex-element arrays): map keys sorted, struct fields in schema
    * order, strings escaped per RFC 8259's mandatory set. PG's jsonb
    * re-normalizes on ingest, so only VALUE fidelity matters on a live
    * server; the sorted/ordered form exists so the recorded bind in
    * PgDialectSpec is stable. */
  def jsonText(v: Any, dt: DataType): String = (v, dt) match {
    case (null, _) => "null"
    case (s: String, StringType) => jstr(s)
    case (b: Boolean, BooleanType) => b.toString
    case (n, ByteType | ShortType | IntegerType | LongType |
               FloatType | DoubleType) => String.valueOf(n)
    case (d: java.math.BigDecimal, _: DecimalType) => d.toPlainString
    case (d: scala.math.BigDecimal, _: DecimalType) =>
      d.bigDecimal.toPlainString
    case (seq: scala.collection.Seq[_], ArrayType(et, _)) =>
      seq.map(jsonText(_, et)).mkString("[", ",", "]")
    case (m: scala.collection.Map[_, _], MapType(_, vt, _)) =>
      m.toSeq.map { case (k, x) => (String.valueOf(k), x) }
        .sortBy(_._1)
        .map { case (k, x) => s"${jstr(k)}:${jsonText(x, vt)}" }
        .mkString("{", ",", "}")
    case (r: org.apache.spark.sql.Row, st: StructType) =>
      st.fields.zipWithIndex
        .map { case (f, i) => s"${jstr(f.name)}:${jsonText(r.get(i), f.dataType)}" }
        .mkString("{", ",", "}")
    // timestamps/dates inside json land as their ISO string form
    case (other, _) => jstr(String.valueOf(other))
  }

  private def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** Parameterized DELETE by primary key — tombstone propagation for
    * the source's soft deletes (queryAll … IsDeleted = true). */
  def deleteSql(table: String, pk: Seq[String]): String =
    s"DELETE FROM ${q(table)} WHERE " +
      pk.map(c => s"${q(c)} = ?").mkString(" AND ")
}
