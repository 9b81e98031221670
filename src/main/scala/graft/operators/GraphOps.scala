package graft.operators

import graft.{Caches, StoredArtifact, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** §2.U (r10) — iterative graph analytics over a relational edge set.
  *
  * The graph is the part↔supplier bipartite sourcing network implied by
  * lineitem (distinct (l_partkey, l_suppkey) pairs, symmetrized), the
  * same shape as a web/link or doc-citation graph: PageRank-style
  * centrality over such graphs is a published pretraining-data quality
  * signal (link-graph weighting of Common Crawl), and the dedup
  * cluster ops (LlmOps.connectedComponents) already cover the
  * reachability side of graph work — this adds the fixed-point
  * iteration side.
  *
  * Determinism contract: ranks are 10⁻¹² fixed-point BIGINTs and every
  * per-iteration step is integer arithmetic (`div` floors, sums of
  * longs are exact and order-independent) — float PageRank would drift
  * at the last ulp under Spark's nondeterministic reduce order and
  * diverge from the oracle after five iterations. The DuckDB twin is
  * the same five iterations unrolled as CTEs.
  *
  * Scale notes: edges are persisted once and pre-joined with their
  * source outdegree, so each iteration is one co-partitioned
  * (src = node) join + one partial-aggregable groupBy(dst) — the
  * classic Pregel superstep as two exchanges over edge-count-sized
  * data; rank frames are persisted per iteration and the previous one
  * released (lineage truncation, so the 5-round plan never re-derives
  * round k-1 from scratch). The node count is the one driver-side
  * scalar (a metadata-sized count job, k·0 bytes shipped). Payloads
  * in the shuffles are 24-byte (key, long) rows at every scale.
  */
object GraphOps {

  /** Distinct part→supplier edges from lineitem, symmetrized so every
    * node has outdegree ≥ 1 (no dangling-mass redistribution needed —
    * the oracle and the Spark side agree by construction). Supplier
    * ids are offset into their own node-id range: 10¹² sits beyond any
    * realistic l_partkey (200k×SF — SF would need to hit 5M to reach
    * it), so part and supplier nodes can never merge. */
  private[graft] val SupplierOffset = 1000000000000L

  private def edges(s: SparkSession, d: String): DataFrame = {
    val e0 = Tables.lineitem(s, d)
      .select(col("l_partkey").as("src"),
        (col("l_suppkey") + SupplierOffset).as("dst"))
      .distinct()
    e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
  }

  /** BUCKETED (src, dst, outdeg) edge store
    * (r19, VERDICT r18 item 4): the c_join_bucketed discipline applied
    * to the graph family. The in-flight form rebuilt + repartitioned
    * the edge frame per session and leaned on the persisted frame's
    * partitioning to keep superstep joins map-side; stored bucketed on
    * `src`, the layout lives in the CATALOG, so every superstep's
    * build side rides the bucket spec with ZERO edge-side Exchange
    * STRUCTURALLY (GraphOpsSpec pins the plan), every degree
    * aggregation collapses onto the bucket key, and a later SESSION
    * IN THE SAME JVM pays a metadata probe instead of the
    * distinct+join+shuffle ([[StoredArtifact.Catalog]]; a fresh JVM
    * rebuilds the store, cross-RUN amortization needs an external
    * metastore). Values are the exact in-flight (src, dst, outdeg)
    * rows, so the oracle hashes cannot move. At 100 TB this is the
    * standing edge table a graph pipeline maintains anyway —
    * write-once shuffle, amortized over every superstep of every
    * query. */

  /** Edge-store bucket count (r20, VERDICT r19 item 5): DATA-derived,
    * not core-derived. The graph family's bucket-local consumers are
    * joins/aggregations over 24-byte (key, long) rows — cheap per row,
    * so task count should follow bytes (guide §6 bucket sizing,
    * ≈ bytes/128 MB with an 8-bucket floor), unlike the dedup postings
    * store whose per-row shingle compute justifies LlmOps.storeBuckets'
    * core floor (the r7 IncScale lesson — a DIFFERENT cost model).
    * On local[32] the core-derived 32 buckets made every superstep
    * stage 32 tiny tasks over a KB graph: 5 supersteps of pure task
    * scheduling, measured floors 2.17 s (32 buckets) vs 1.57 s
    * (8 buckets) at c32 — the whole driver-observed c32 regression.
    * Size estimate: 2·rows·48 B upper-bounds the symmetrized
    * (src, dst, outdeg) store before the distinct; at 100 TB
    * (~6·10¹¹ lineitem rows) that derives ~200k, clamped to Spark's
    * bucket ceiling regime at 65536 (~1 GB/bucket). Conf override
    * `spark.graft.store.buckets` is honored as before. */
  private def edgeBuckets(s: SparkSession, d: String): Int =
    s.conf.getOption("spark.graft.store.buckets").map(_.toInt)
      .getOrElse {
        val bytes = 2L * Tables.rowCount(s, d, "lineitem") * 48L
        math.max(8, math.min(65536, (bytes / (128L << 20)).toInt))
      }

  /** The resolved edge store: its table, and its node count once
    * PageRank has counted it (r19 opt round: re-counting launched one
    * extra driver job on every invocation). The store is immutable
    * under its name, so the count can never go stale. */
  private final class EdgeStore(val table: String) {
    @volatile private var nodes = -1L
    def nodeCount(edgesDeg: DataFrame): Long = {
      if (nodes < 0)
        nodes = edgesDeg.agg(countDistinct(col("src"))).head.getLong(0)
      nodes
    }
  }

  private def edgeStore(s: SparkSession, d: String): EdgeStore =
    StoredArtifact.resolve(s, d, "edges", Seq("lineitem"))(
      build = { table =>
        val e = edges(s, d)
        val deg = e.groupBy("src").agg(count(lit(1)).as("outdeg"))
        graft.sources.Layout.writeBucketed(e.join(deg, "src"), table,
          "src", edgeBuckets(s, d))
        new EdgeStore(table)
      },
      reuse = new EdgeStore(_))

  private[graft] def edgeStoreTable(s: SparkSession, d: String): String =
    edgeStore(s, d).table

  /** Five exact fixed-point PageRank iterations (damping 0.85) over
    * the symmetric edge set; all-integer arithmetic, see scaladoc.
    *
    * Only the (src, dst, outdeg) edge frame is persisted: each rank
    * frame is consumed exactly ONCE (by the next superstep), so
    * caching it buys nothing — the five iterations pipeline as one
    * action with five shuffle rounds, and the per-iteration
    * persist+materialize this replaces cost five extra jobs
    * (TimeQ r10: 3.6 → ~1.5 s at sf0.1). At an iteration count where
    * plan depth itself becomes a planning cost (≫20), checkpoint every
    * k-th frame instead. */
  private[graft] def pagerank(s: SparkSession, d: String,
                              iterations: Int = 5): DataFrame = {
    // (src, dst, outdeg) — the per-iteration join input, read from the
    // bucketed catalog store (r19): the scan's bucket spec satisfies
    // the join's clustered distribution on src, so no superstep ever
    // exchanges the edge side — the rank frame (node-count-sized, the
    // small side) is the only thing that moves. Persisted on top: the
    // five supersteps reread the same frame, and the in-memory scan
    // PRESERVES the bucket-derived partitioning, so the pin costs one
    // materialization and removes four parquet decodes (released by
    // the harness's Caches.release)
    val store = edgeStore(s, d)
    val edgesDeg = Caches.persisted(s.table(store.table))
    val n = store.nodeCount(edgesDeg)
    val base = 150000000000L / n // 0.15 damping share per node
    // node set = distinct src (symmetrized edges: every node appears
    // as a src) — a bucket-local distinct over the store
    var ranks = edgesDeg.select(col("src")).distinct()
      .select(col("src").as("node"), lit(1000000000000L / n).as("r"))
    for (_ <- 1 to iterations) {
      ranks = edgesDeg
        .join(ranks, edgesDeg("src") === ranks("node"))
        .select(col("dst"), expr("r div outdeg").as("c"))
        .groupBy("dst")
        .agg(sum(col("c")).as("sc"))
        .select(col("dst").as("node"),
          (lit(base) + expr("(85 * sc) div 100")).as("r"))
    }
    ranks
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Top-20 nodes by 5-iteration fixed-point PageRank.
    "j_graph_pagerank" -> { (s, d) =>
      pagerank(s, d)
        .select(col("node"), col("r").as("rank_pico"))
        .orderBy(desc("rank_pico"), asc("node"))
        .limit(20)
    },

    // Degree histogram of the same graph — the 1-pass structural
    // profile read before choosing a partitioning/skew strategy
    // (a node with degree ≫ p99 is tomorrow's hot reducer).
    // r19: reads the bucketed edge store — the per-node count rides
    // the bucket layout (groupBy on the bucket key plans with no
    // Exchange; LayoutSpec's bucket-pruned-aggregation proof), so the
    // only exchanges left are the tiny histogram rollup + output sort
    "j_graph_degree" -> { (s, d) =>
      s.table(edgeStoreTable(s, d))
        .groupBy("src").agg(count(lit(1)).as("degree"))
        .groupBy("degree").agg(count(lit(1)).as("n_nodes"))
        .orderBy("degree")
    }
  )

  private val edgesSql =
    """e0 AS (SELECT DISTINCT l_partkey AS src, l_suppkey + 1000000000000 AS dst
      |       FROM lineitem),
      |edges AS (SELECT src, dst FROM e0
      |          UNION ALL SELECT dst AS src, src AS dst FROM e0),
      |deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src)""".stripMargin

  /** One unrolled PageRank iteration reading ranks from CTE `prev`. */
  private def iterSql(prev: String, cur: String): String =
    s"""$cur AS (
       |  SELECT e.dst AS node,
       |    CAST(150000000000 // max(nn.n)
       |      + (85 * sum(r.r // d.outdeg)) // 100 AS BIGINT) AS r
       |  FROM edges e
       |  JOIN $prev r ON e.src = r.node
       |  JOIN deg d ON e.src = d.src, nn
       |  GROUP BY e.dst)""".stripMargin

  val oracles: Map[String, String] = Map(
    "j_graph_pagerank" ->
      s"""WITH $edgesSql,
         |nn AS (SELECT count(*) AS n FROM deg),
         |r0 AS (SELECT src AS node, CAST(1000000000000 // n AS BIGINT) AS r
         |       FROM deg, nn),
         |${iterSql("r0", "it1")},
         |${iterSql("it1", "it2")},
         |${iterSql("it2", "it3")},
         |${iterSql("it3", "it4")},
         |${iterSql("it4", "it5")}
         |SELECT node, r AS rank_pico FROM it5
         |ORDER BY rank_pico DESC, node ASC LIMIT 20""".stripMargin,

    "j_graph_degree" ->
      s"""WITH $edgesSql
         |SELECT outdeg AS degree, count(*) AS n_nodes
         |FROM deg GROUP BY outdeg ORDER BY degree""".stripMargin
  )
}
