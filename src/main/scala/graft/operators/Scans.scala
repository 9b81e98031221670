package graft.operators

import graft.{StoredArtifact, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** §2.A — scans / sources. The extract side of the reference ETL
  * (Salesforce SOQL: projection + filter + cursor pushed to the API) is
  * re-expressed as parquet scans where Catalyst pushes projection and
  * predicates into the vectorized reader.
  *
  * Scale notes (100 TB): these scans read only the requested columns
  * (ReadSchema) and push predicates to row-group stats (PushedFilters),
  * so cost is proportional to selected bytes, not table size. On a real
  * cluster the fixture files become date-partitioned tables and the same
  * filters additionally prune partitions.
  */
object Scans {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Full scan, all columns, total order.
    "a_scan_full" -> { (s, d) =>
      Tables.region(s, d).orderBy("r_regionkey")
    },

    // Column pruning + predicate pushdown: 3 of 16 columns survive to
    // the reader; l_quantity > 45 reaches PushedFilters.
    "a_scan_prune_pushdown" -> { (s, d) =>
      Tables.lineitem(s, d)
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .filter(col("l_quantity") > 45)
        // (l_orderkey, l_linenumber) is NOT unique in the fixtures —
        // order over ALL output columns for a hash-stable total order
        .orderBy("l_orderkey", "l_linenumber", "l_quantity")
        .limit(100)
    },

    // Explicit user schema (the describe()-driven read of the reference,
    // SURVEY §1.1): events read with a hand-built StructType — ts stays
    // the raw int64 tick and is projected to epoch micros per the
    // footer-sniffed unit (the fixture has shipped as both
    // TIMESTAMP(NANOS) and TIMESTAMP_MICROS across driver regens; the
    // explicit LongType schema reads the raw value under either
    // annotation, no legacy flag or session-conf mutation needed).
    "a_scan_schema_enforce" -> { (s, d) =>
      val st = StructType(Seq(
        StructField("event_id", LongType),
        StructField("ts", LongType),          // raw ticks
        StructField("user_id", LongType),
        StructField("event_type", StringType),
        StructField("value", DoubleType)))
      val tick = Tables.tsNsPerTick(s, d)    // ns per raw tick
      val tsUs =
        if (tick >= 1000L) expr(s"ts * ${tick / 1000L}")
        else expr(s"ts div ${1000L / tick}")
      s.read.schema(st).parquet(s"$d/events.parquet")
        .select(
          col("event_id"),
          tsUs.as("ts_us"),
          col("user_id"),
          col("event_type"),
          col("value"))
        .orderBy("event_id")
    },

    // SQL-text entry point: ONE portable ANSI string (Q3 shape) runs
    // verbatim through Catalyst here AND as the DuckDB oracle — the
    // switch surface for SQL-text users (graft.Sql).
    "a_sql_entrypoint" -> { (s, d) =>
      graft.Sql.run(s, d, Scans.portableQ3)
    },

    // Recursive CTE through Catalyst (§2.Q — Spark 4 UnionLoop): a
    // month spine generated by recursion, left-joined to order counts
    // so empty months surface as zeros — the calendar-densification
    // shape reporting pipelines need. ONE portable string is both the
    // Spark query and the oracle (a_sql_entrypoint's proof pattern
    // applied to recursion).
    "a_sql_recursive" -> { (s, d) =>
      graft.Sql.run(s, d, Scans.portableRecursiveMonths)
    },

    // LATERAL correlated subquery (§2.Q): top order per customer via a
    // per-row dependent subquery — the SOQL parent-to-child analogue in
    // SQL text, planned by Catalyst as a rewritten correlated join.
    // Same one-portable-string proof pattern.
    "c_join_lateral" -> { (s, d) =>
      graft.Sql.run(s, d, Scans.portableLateralTop1)
    },

    // CSV round-trip (the Bulk-API CSV batch shape of the reference's
    // extract side): write the table as CSV, read it back with the
    // declared schema, prove losslessness against the parquet oracle.
    // Doubles survive because Spark writes the shortest decimal repr,
    // which parses back to the identical bits.
    "a_source_csv_roundtrip" -> { (s, d) =>
      val out = scratch(s, d, "csv", "customer") { out =>
        Tables.customer(s, d).write.option("header", "true").csv(out)
      }
      s.read.schema(Tables.schemas("customer"))
        .option("header", "true").csv(out)
        .orderBy("c_custkey")
    },

    // Partition-pruned layout read (r10): write documents Hive-
    // partitioned by lang, read back with a lang predicate — the
    // filter must resolve at the FILE LISTING (PartitionFilters in the
    // scan, pruned directories never opened), the mechanism that makes
    // a 100 TB lake queryable. PlanSpec pins the PartitionFilters;
    // the oracle is the plain filtered SELECT, proving the layout
    // round-trip loses nothing. Written once per (session, sfDir).
    "a_partitioned_prune" -> { (s, d) =>
      val out = partitionedDocs(s, d)
      s.read.parquet(out)
        .filter(col("lang") === "en")
        .select(col("doc_id"), col("n_chars"), col("lang"))
        .orderBy("doc_id")
    },

    // Dynamic partition pruning (r10): the partition predicate is not
    // a literal this time — it is the JOIN against a filtered dim
    // frame, and the partitioned fact scan must be pruned by the dim's
    // runtime values (Spark inserts a dynamicpruning subquery into the
    // scan's PartitionFilters; PlanSpec pins it). This is THE 100 TB
    // star-join mechanism: the dim side decides which of thousands of
    // partition directories the fact scan opens, at runtime, with no
    // literal in the query text. Static pruning (a_partitioned_prune)
    // and DPP together cover both halves of partition elimination.
    "c_join_dpp" -> { (s, d) =>
      val facts = s.read.parquet(partitionedDocs(s, d))
      val dim = Tables.documents(s, d)
        .select("lang").distinct()
        .filter(col("lang").isin("en", "fr"))
      facts.join(broadcast(dim), "lang")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
        .orderBy("lang")
    },

    // ORC round-trip (r10): the columnar-interchange twin of the CSV
    // entry — write supplier as ORC, read it back, prove losslessness
    // against the parquet oracle (ORC stores doubles/longs natively,
    // so the round-trip is bit-exact by construction; the hash-match
    // proves the reader/writer agree on schema and values). Covers the
    // second columnar format a lake migration meets.
    "a_source_orc_roundtrip" -> { (s, d) =>
      val out = scratch(s, d, "orc", "supplier") { out =>
        Tables.supplier(s, d).write.orc(out)
      }
      s.read.schema(Tables.schemas("supplier")).orc(out)
        .orderBy("s_suppkey")
    },

    // Schema-evolution merge read (r10): two parquet snapshot
    // generations under one root — snap=1 written BEFORE the `source`
    // column existed, snap=2 after — read in one scan with
    // mergeSchema=true. This is the lake-side twin of
    // sources/SchemaDrift (which diffs/migrates the warehouse DDL):
    // a 100 TB lake always contains files of several schema vintages,
    // and the engine must union them without a rewrite. Missing
    // columns surface as NULL (count(source) = 0 for snap=1 — the
    // oracle pins exactly that), and the snapshot id rides the
    // directory name as a partition column. Footer merging costs one
    // extra footer read per distinct schema, not a data pass.
    "a_source_schema_merge" -> { (s, d) =>
      val out = snapshotLayouts(s, d)
      s.read.option("mergeSchema", "true").parquet(out)
        .groupBy(col("snap").cast(IntegerType).as("snap"), col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          count(col("source")).as("n_with_source"),
          sum(col("n_chars")).as("sum_chars"))
        .orderBy("snap", "lang")
    },

    // Z-ordered layout READ-BACK (r16, VERDICT ask 7): lineitem
    // re-clustered on the Morton interleave of (l_quantity,
    // l_extendedprice) via Layout.writeZOrdered, then queried through a
    // two-dimensional range predicate — the shape z-ordering exists
    // for. The oracle is the SAME query on the raw parquet table: the
    // hash-match proves the clustering write is invisible in the
    // result (row-set preserved, values bit-exact), promoting the
    // layout op from spec-only to the hard gate. File-SKIPPING (both
    // dimensions prune to a fraction of the files, where a linear
    // sort's trailing column cannot) stays measured in LayoutSpec —
    // skipping is a plan/IO property the row-hash can't see. Layout
    // built once per (session, sfDir), like the bucketed-join store.
    "a_layout_zorder_read" -> { (s, d) =>
      val out = zorderedLineitem(s, d)
      s.read.parquet(out)
        .filter(col("l_quantity") <= 5 && col("l_extendedprice") <= 5000)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_items"),
          graft.Det.dsum(col("l_quantity")).as("sum_qty"),
          graft.Det.dsum(col("l_extendedprice")).as("revenue"))
        .orderBy("l_returnflag")
    },

    // Compacted layout READ-BACK (r16, VERDICT ask 7): orders written
    // deliberately fragmented (64 tiny files — the debris every
    // micro-batch/incremental sink leaves), then Layout.compact
    // rewrites the directory into ~4 range-clustered files; the query
    // reads the compacted directory through a key-range predicate.
    // Oracle = the same query on the raw table: compaction must be
    // result-invisible. The file-count collapse, per-file key-range
    // disjointness, and the crash-recovery branches of the
    // double-rename publish stay pinned in LayoutSpec.
    "a_layout_compact_read" -> { (s, d) =>
      val out = compactedOrders(s, d)
      s.read.parquet(out)
        .filter(col("o_orderkey") < 1000)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"),
          graft.Det.dsum(col("o_totalprice")).as("revenue"))
        .orderBy("o_orderpriority")
    },

    // JSON ingest (stand-in for the REST-JSON record batches the
    // reference pulls from Salesforce): parse E.props.
    "a_source_jsonl" -> { (s, d) =>
      Tables.events(s, d)
        .select(
          col("event_id"),
          get_json_object(col("props"), "$.k").cast(LongType).as("k"))
        .orderBy("event_id")
    },

    // Corrupt-record tolerance (§2.A): a real feed always carries
    // malformed lines; PERMISSIVE mode routes them to a corrupt-record
    // column instead of failing the load or silently dropping rows.
    // The file is built from the fixture with every 7th line truncated
    // mid-JSON; the oracle is the clean subset — the hash-match proves
    // corrupt lines were isolated EXACTLY (no good row lost, no bad
    // row leaked). Scale: per-line parsing, embarrassingly parallel;
    // the corrupt column feeds a quarantine sink instead of a retry
    // storm.
    "a_source_jsonl_corrupt" -> { (s, d) =>
      val path = corruptFixture(s, d)
      s.read
        .schema("doc_id BIGINT, n_chars BIGINT, _corrupt STRING")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .json(path)
        .filter(col("_corrupt").isNull && col("doc_id").isNotNull)
        .select("doc_id", "n_chars")
        .orderBy("doc_id")
    }
  )

  // The two round-trip copies above and the five layouts below are
  // scratch directories (StoredArtifact.Scratch):
  // `/tmp/graft_<kind>_<app id>_<session id>_<corpus slug>`, written on
  // the first resolution in every session. The two ids keep two JVMs
  // on one fixture (Verify next to a Bench run), or two sessions of
  // one JVM, out of each other's directory: a rewrite must never race
  // another reader, and compact's rename/recover protocol is
  // single-writer.
  private def scratch(s: SparkSession, d: String, kind: String,
                      input: String)(write: String => Unit): String =
    StoredArtifact(s, d, kind, Seq(input),
      reentry = StoredArtifact.Scratch)(write)

  // Hive-partitioned documents layout for a_partitioned_prune — the
  // write is the one-time table layout, the query is the pruned read
  private def partitionedDocs(s: SparkSession, d: String): String =
    scratch(s, d, "part", "documents") { out =>
      Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars"), col("lang"))
        .write.partitionBy("lang").parquet(out)
    }

  // two-generation snapshot layout for a_source_schema_merge: snap=1
  // predates the `source` column, snap=2 carries it (ids offset so the
  // generations are disjoint)
  private def snapshotLayouts(s: SparkSession, d: String): String =
    scratch(s, d, "snap", "documents") { out =>
      val docs = Tables.documents(s, d)
      docs.select(col("doc_id"), col("lang"), col("n_chars"))
        .write.parquet(s"$out/snap=1")
      docs.select((col("doc_id") + 1000000L).as("doc_id"), col("lang"),
          col("n_chars"), col("source"))
        .write.parquet(s"$out/snap=2")
    }

  // z-ordered lineitem layout for a_layout_zorder_read: the write is
  // the one-time clustering pass (one approxQuantile pass + ONE range
  // exchange on the z-value — never a global sort), the query is the
  // two-dimensional pruned read
  private def zorderedLineitem(s: SparkSession, d: String): String =
    scratch(s, d, "zord", "lineitem") { out =>
      graft.sources.Layout.writeZOrdered(
        Tables.lineitem(s, d).select("l_orderkey", "l_returnflag",
          "l_quantity", "l_extendedprice"),
        out, "l_quantity", "l_extendedprice", nFiles = 8)
    }

  // fragment-then-compact orders layout for a_layout_compact_read: 64
  // tiny files written first (the incremental-sink debris),
  // Layout.compact rewrites them at rows/4 rows per file (~4 files,
  // range-clustered) through the crash-safe double-rename
  private def compactedOrders(s: SparkSession, d: String): String =
    scratch(s, d, "cmpct", "orders") { out =>
      val o = Tables.orders(s, d)
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
      o.repartition(64).write.parquet(out)
      val target = math.max(1L, o.count() / 4)
      graft.sources.Layout.compact(s, out, "o_orderkey", target)
    }

  // the fixture as JSON lines with every 7th line truncated mid-JSON,
  // for a_source_jsonl_corrupt
  private def corruptFixture(s: SparkSession, d: String): String =
    scratch(s, d, "jsonl_corrupt", "documents") { path =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          to_json(struct(col("doc_id"), col("n_chars"))).as("line"))
        .select(when(col("doc_id") % 7 === 0,
            expr("substring(line, 1, length(line) - 5)"))
          .otherwise(col("line")).as("value"))
        .coalesce(1).write.text(path)
    }

  /** TPC-H Q3 shape in the portable ANSI subset: decimal-cast sum for
    * cross-engine determinism, TIMESTAMP literals, total-order tail.
    * Runs unmodified on Spark SQL and DuckDB. */
  val portableQ3: String =
    """SELECT l_orderkey,
      |  CAST(CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
      |    AS DECIMAL(20,6))) AS STRING) AS DOUBLE) AS revenue,
      |  o_orderpriority
      |FROM customer
      |JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate < TIMESTAMP '1996-03-15 00:00:00'
      |  AND l_shipdate > TIMESTAMP '1996-03-15 00:00:00'
      |GROUP BY l_orderkey, o_orderpriority
      |ORDER BY revenue DESC, l_orderkey
      |LIMIT 10""".stripMargin

  /** Recursive month spine + left join, portable: CAST-pinned date
    * arithmetic (DATE + INTERVAL is DATE on Spark but TIMESTAMP on
    * DuckDB; date_trunc is TIMESTAMP-typed on both over a timestamp
    * column), count(col) for the null-safe zero on empty months. */
  val portableRecursiveMonths: String =
    """WITH RECURSIVE months(m) AS (
      |  SELECT CAST('1995-01-01' AS DATE) AS m
      |  UNION ALL
      |  SELECT CAST(m + INTERVAL 1 MONTH AS DATE) FROM months
      |  WHERE m < CAST('1996-12-01' AS DATE)
      |)
      |SELECT m, count(o_orderkey) AS n_orders
      |FROM months
      |LEFT JOIN orders
      |  ON CAST(date_trunc('month', o_orderdate) AS DATE) = m
      |GROUP BY m
      |ORDER BY m""".stripMargin

  /** LATERAL top-1-per-customer, portable (ANSI lateral derived
    * table; inner-join semantics drop orderless customers). */
  val portableLateralTop1: String =
    """SELECT c_custkey, t.o_orderkey, t.o_totalprice
      |FROM customer, LATERAL (
      |  SELECT o_orderkey, o_totalprice FROM orders
      |  WHERE o_custkey = c_custkey
      |  ORDER BY o_totalprice DESC, o_orderkey
      |  LIMIT 1) t
      |ORDER BY c_custkey""".stripMargin

  val oracles: Map[String, String] = Map(
    "a_sql_entrypoint" -> portableQ3,
    "a_sql_recursive" -> portableRecursiveMonths,
    "c_join_lateral" -> portableLateralTop1,
    "a_scan_full" ->
      "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey",
    "a_scan_prune_pushdown" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |WHERE l_quantity > 45
        |ORDER BY l_orderkey, l_linenumber, l_quantity LIMIT 100""".stripMargin,
    "a_scan_schema_enforce" ->
      """SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value
        |FROM events ORDER BY event_id""".stripMargin,
    "a_source_csv_roundtrip" ->
      """SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "a_source_orc_roundtrip" ->
      """SELECT s_suppkey, s_name, s_nationkey, s_acctbal
        |FROM supplier ORDER BY s_suppkey""".stripMargin,
    "a_partitioned_prune" ->
      """SELECT doc_id, n_chars, lang FROM documents
        |WHERE lang = 'en' ORDER BY doc_id""".stripMargin,
    "c_join_dpp" ->
      """WITH dim AS (
        |  SELECT DISTINCT lang FROM documents WHERE lang IN ('en','fr'))
        |SELECT d.lang, count(*) AS n_docs,
        |  CAST(sum(d.n_chars) AS BIGINT) AS sum_chars
        |FROM documents d JOIN dim USING (lang)
        |GROUP BY d.lang ORDER BY d.lang""".stripMargin,
    // recomputes the two snapshot generations directly from documents:
    // generation 1 has no source column (NULL), generation 2 does
    "a_source_schema_merge" ->
      """WITH merged AS (
        |  SELECT CAST(1 AS INT) AS snap, lang, n_chars,
        |    CAST(NULL AS STRING) AS source
        |  FROM documents
        |  UNION ALL
        |  SELECT CAST(2 AS INT), lang, n_chars, source FROM documents)
        |SELECT snap, lang, count(*) AS n_docs,
        |  count(source) AS n_with_source,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM merged GROUP BY snap, lang ORDER BY snap, lang""".stripMargin,
    // the SAME queries on the raw parquet tables — the clustered /
    // compacted layouts must be invisible in the results
    "a_layout_zorder_read" ->
      s"""SELECT l_returnflag, count(*) AS n_items,
         |  ${graft.Det.dsumSql("l_quantity")} AS sum_qty,
         |  ${graft.Det.dsumSql("l_extendedprice")} AS revenue
         |FROM lineitem
         |WHERE l_quantity <= 5 AND l_extendedprice <= 5000
         |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "a_layout_compact_read" ->
      s"""SELECT o_orderpriority, count(*) AS n_orders,
         |  ${graft.Det.dsumSql("o_totalprice")} AS revenue
         |FROM orders WHERE o_orderkey < 1000
         |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "a_source_jsonl" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |FROM events ORDER BY event_id""".stripMargin,
    // the clean subset — corrupt isolation must lose no good row and
    // leak no bad one
    "a_source_jsonl_corrupt" ->
      """SELECT doc_id, n_chars FROM documents
        |WHERE doc_id % 7 <> 0 ORDER BY doc_id""".stripMargin
  )
}
