package graft.operators

import graft.{Det, Par, StoredArtifact, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._

/** §2.J round-2 additions: the ANN *scale path* (IVF-bucketed search),
  * deterministic stratified sampling, and the multimodal binary-column
  * feature pass — all oracle-gated.
  *
  * Scale notes (100 TB):
  * - IVF: assignment is a broadcast of the (tiny) centroid set against
  *   the full table (narrow, no shuffle); then the per-cell search is a
  *   SIZE-DRIVEN physical choice (pairWithinBucket): candidate lists
  *   are broadcast while the table fits the row limit, and above it
  *   both sides co-partition on cell id (one Exchange each) so the
  *   quadratic search runs cell-local — cost drops from n² to Σ|cell|²
  *   and nothing table-sized is ever broadcast. The oracled entry seeds
  *   centroids from the first 16 vectors (deterministic,
  *   DuckDB-checkable); j_ann_ivf_kmeans is the sampled-k-means twin,
  *   invariant-gated with a measured recall floor.
  * - stratified sample: a pure map-side filter on a stable hash — no
  *   shuffle, reproducible under repartitioning, never rand().
  * - multimodal: payload stays an opaque binary column; every derived
  *   feature is a narrow projection. The decode is a clearly-marked
  *   deterministic fake (no image libs in this container) with the real
  *   schema/plumbing shape a mapInPandas/mapPartitions decoder needs.
  */
object AnnOps {

  private[operators] def unit(s: SparkSession, d: String): DataFrame =
    Par.spread(Tables.embeddings(s, d))
      .select(col("vec_id"), col("label"),
        col("embedding").cast(ArrayType(DoubleType)).as("v"))
      .withColumn("nrm", sqrt(expr("graft_dot(v, v)")))
      .select(col("vec_id"), col("label"),
        expr("graft_vdiv(v, nrm)").as("u"))

  /** Centroid preference ranking per vector: every (vector, centroid)
    * pair with rn = 1 for the nearest centroid (ties to lowest cell).
    * rn = 1 is the home-cell assignment; rn ≤ nprobe is the multi-probe
    * set. */
  private[operators] def ivfRank(u: DataFrame, cents: DataFrame): DataFrame = {
    val wAsg = Window.partitionBy("vec_id")
      .orderBy(desc("cdot"), asc("cell_id"))
    u.join(broadcast(cents))
      .withColumn("cdot", expr("graft_dot(u, cu)"))
      .withColumn("rn", row_number().over(wAsg))
  }

  /** Home-cell assignment. Output: (vec_id, cell, u, label). */
  private def ivfAssign(u: DataFrame, cents: DataFrame): DataFrame =
    ivfRank(u, cents).filter(col("rn") === 1)
      .select(col("vec_id"), col("cell_id").as("cell"), col("u"),
        col("label"))

  /** Seed centroids for the oracled IVF entries: the first 16 unit
    * vectors (deterministic, DuckDB-checkable). */
  /** Seed cells = the 16 LOWEST vec_ids — RANK-based (r14): the old
    * `vec_id < 16` literal assumed an id space rooted at 0 and
    * silently yielded ZERO centroids (hence zero output) on any
    * shifted id space — found by the ZipfGen corpora, whose ids start
    * at 10⁹. On the fixtures (contiguous ids from 0) the rank form is
    * value-identical. Plan cost: one 16-row sort-limit on (id, vec) —
    * broadcast-joined back, no full shuffle. */
  private def seedCentroids(u: DataFrame): DataFrame =
    broadcast(u.orderBy("vec_id").limit(16))
      .select(col("vec_id").as("cell_id"), col("u").as("cu"))

  /** Deterministic sampled spherical k-means (Lloyd's) for IVF
    * centroids — the production path where seeds-from-first-rows would
    * track data order, not geometry. Everything is fixed: the sample is
    * the `maxSample` lowest vec_ids (ordered, bounded collect — never
    * the table), initialization is the first k sample vectors,
    * `iters` Lloyd iterations run in pure driver-side double arithmetic
    * in index order, assignment ties break to the lowest cell, and an
    * emptied cluster keeps its previous centroid. Same centroids on
    * every run and every input partitioning (AnnOpsSpec asserts this,
    * plus a measured recall floor vs brute force).
    *
    * At 100 TB the only change is the sample source (a distributed
    * deterministic sample instead of ordered-limit); the Lloyd loop
    * stays driver-side — k·dim·|sample| flops is microscopic next to
    * the scan. */
  /** Counts sample+Lloyd's runs — AnnIndexSpec's direct evidence that a
    * delta run against the stored index never re-clusters. */
  private[graft] val lloydRuns = new java.util.concurrent.atomic.AtomicInteger(0)

  private[graft] def kmeansCentroids(u: DataFrame, k: Int, iters: Int,
                                     maxSample: Int): Array[(Int, Array[Double])] = {
    lloydRuns.incrementAndGet()
    val sample: Array[Array[Double]] = u.select(col("vec_id"), col("u"))
      .orderBy("vec_id").limit(maxSample).collect()
      .map(_.getSeq[Double](1).toArray)
    require(sample.length >= k, s"sample ${sample.length} smaller than k=$k")
    val dim = sample(0).length
    def normalize(v: Array[Double]): Array[Double] = {
      var ss = 0.0; var i = 0
      while (i < dim) { ss += v(i) * v(i); i += 1 }
      val nrm = math.sqrt(ss)
      if (nrm == 0.0) v else v.map(_ / nrm)
    }
    var cents = sample.take(k).map(normalize)
    var it = 0
    while (it < iters) {
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Int](k)
      sample.foreach { v =>
        var best = 0; var bestDot = Double.NegativeInfinity
        var c = 0
        while (c < k) {
          var dot = 0.0; var i = 0
          while (i < dim) { dot += v(i) * cents(c)(i); i += 1 }
          if (dot > bestDot) { bestDot = dot; best = c }
          c += 1
        }
        var i = 0
        while (i < dim) { sums(best)(i) += v(i); i += 1 }
        counts(best) += 1
      }
      cents = Array.tabulate(k)(c =>
        if (counts(c) == 0) cents(c) else normalize(sums(c)))
      it += 1
    }
    Array.tabulate(k)(c => (c, cents(c)))
  }

  /** Rows above which the per-bucket self-join stops broadcasting the
    * candidate side and co-partitions BOTH sides on the bucket key
    * instead. Session-tunable so tests (and deployments) can force
    * either physical shape. */
  val BroadcastRowLimitKey = "spark.graft.ann.broadcastRowLimit"

  /** Whether Spark will honor stored bucket layouts this session — the
    * precondition of the probe-only-repartition fast path below. */
  private def bucketedScansOn(s: SparkSession): Boolean =
    s.conf.get("spark.sql.sources.bucketing.enabled", "true").toBoolean

  /** Candidate pairing within a bucket, with a size-driven physical
    * choice: below the row limit the candidate side is broadcast
    * (BroadcastHashJoin on the bucket key — no probe-side shuffle);
    * above it both sides are co-partitioned on the bucket key (one
    * Exchange each, a spill-safe sort-merge join, and the quadratic
    * search stays bucket-local — nothing table-sized is ever collected
    * or broadcast). Identical algebra either way, so the oracle hash
    * is mode-independent.
    *
    * `asg` must expose (vec_id, <key>, u); `nRows` is the table's row
    * count (parquet metadata count — no scan).
    */
  private[graft] def pairWithinBucket(asg: DataFrame, key: String,
                                      nRows: Long,
                                      candExtra: Seq[String] = Nil): DataFrame =
    pairAcrossBuckets(asg, asg, key, nRows, candExtra)

  /** Exact-duplicate collapse for the ANN pair stage (r13, VERDICT
    * item 4): group vectors by CONTENT, do the quadratic work once per
    * DISTINCT vector, expand members back afterwards. This is the
    * dup-dense-cell answer the sf1 clique-stress rehearsal asked for —
    * a crawl corpus is full of bit-identical embeddings (boilerplate
    * pages, mirrored docs), and a k-per-dup-clique candidate set pays
    * the n_dup² arithmetic for pairs whose scores are all equal.
    *
    * EXACTNESS (why the oracle hashes cannot move): members of a
    * group share `u` bitwise, so (a) their centroid rankings are
    * identical — the rep's probe/home cells ARE each member's; (b)
    * every expanded pair's dot is computed on the same two arrays the
    * all-individuals plan would feed it — the same fp value, not an
    * approximation; and (c) per-individual top-k cuts are recovered
    * from per-REP cuts by the +1 rule: removing one element (self)
    * from a (score desc, id asc)-sorted list leaves its first k
    * intact within the first k+1, and any member's candidate ranking
    * is the rep's. Non-dup inputs collapse to singleton groups and
    * the plan degrades to one extra row-count-sized groupBy.
    *
    * Returns (repU: one (vec_id = min member id, u) row per distinct
    * vector; mem: (rep, ind) membership map). */
  private[operators] def dupGroups(u: DataFrame): (DataFrame, DataFrame) = {
    val g = graft.Caches.persisted(
      u.groupBy("u").agg(min(col("vec_id")).as("vec_id"),
        collect_list(col("vec_id")).as("mem")))
    (g.select("vec_id", "u"),
     g.select(col("vec_id").as("rep"), explode(col("mem")).as("ind")))
  }

  /** Probe/candidate form of the bucketed pairing (multi-probe IVF:
    * the probe side carries one row per probed cell, the candidate side
    * one row per home cell). Same size-driven broadcast/co-partition
    * choice. When the candidate side is a STORED bucketed table, pass
    * its bucket count as `candBuckets`: the co-partition branch then
    * repartitions only the probe side — to exactly the write-time
    * bucket count, so the candidate side rides its layout and the
    * standing index never crosses an Exchange (AnnIndexSpec pins it).
    *
    * The single-sided shape depends on Spark honoring the table's
    * bucket layout: with `spark.sql.sources.bucketing.enabled=false`
    * (or a reader that drops the bucketedScan, e.g. too many unsorted
    * files) Spark would silently shuffle the stored side anyway, and
    * the probe-only repartition would co-partition against nothing. So
    * the `candBuckets` fast path is taken only while bucketing is
    * enabled; otherwise both sides repartition explicitly — same
    * values, honest plan. AnnIndexSpec pins the Exchange-free shape
    * under the enabled (default) setting. */
  private[graft] def pairAcrossBuckets(probe: DataFrame, cand: DataFrame,
                                       key: String, nRows: Long,
                                       candExtra: Seq[String] = Nil,
                                       candBuckets: Option[Int] = None,
                                       keepSelf: Boolean = false): DataFrame = {
    val a = probe.select(col("vec_id"), col(key), col("u").as("ua"))
    val b = cand.select(Seq(col("vec_id").as("nn_id"), col(key),
      col("u").as("ub")) ++ candExtra.map(col): _*)
    val limit = probe.sparkSession.conf
      .get(BroadcastRowLimitKey, "1000000").toLong
    val (pa, pb) =
      if (nRows <= limit) (a, broadcast(b))
      else candBuckets.filter(_ => bucketedScansOn(probe.sparkSession)) match {
        case Some(n) => (a.repartition(n, col(key)).hint("merge"), b)
        case None => (a.repartition(col(key)).hint("merge"),
                      b.repartition(col(key)))
      }
    val joined = pa.join(pb, Seq(key))
    // dup-collapsed callers keep the self-REP pair (a vector's exact
    // twins are real candidates) and drop self after expansion
    (if (keepSelf) joined
     else joined.filter(col("vec_id") =!= col("nn_id")))
      .withColumn("cos", expr("graft_dot(ua, ub)"))
      // arrays projected away BEFORE the window shuffle (pair rows
      // carrying 2×64 doubles would dominate the exchange)
      .select(Seq(col("vec_id"), col("nn_id"), col("cos")) ++
        candExtra.map(col): _*)
  }

  /** int8 scalar quantization of unit vectors: component c →
    * round(c·127) as tinyint — 64 B per vector instead of 512 B of
    * doubles across the candidate broadcast/exchange (the ~8× byte cut
    * VERDICT r3 asked for). Approximate dot products over the codes
    * (graft_dot8, codegen'd int MAC) rank candidates; survivors are
    * re-ranked with the exact double vectors. */
  private[operators] def quantized(u: DataFrame): DataFrame =
    u.withColumn("q",
      transform(col("u"), x => graft.Det.r0(x * lit(127.0)).cast(ByteType)))

  /** Quantized candidate pairing with the same size-driven broadcast/
    * co-partition switch as [[pairAcrossBuckets]] — but the frames
    * crossing the exchange carry ONLY (id, key, int8 code). Output:
    * (vec_id, nn_id, approx). */
  private[graft] def pqPairs(probes: DataFrame, cands: DataFrame,
                             key: String, nRows: Long,
                             candBuckets: Option[Int] = None,
                             keepSelf: Boolean = false): DataFrame = {
    val limit = probes.sparkSession.conf
      .get(BroadcastRowLimitKey, "1000000").toLong
    val (pa, pb) =
      if (nRows <= limit) (probes, broadcast(cands))
      else candBuckets.filter(_ => bucketedScansOn(probes.sparkSession)) match {
        case Some(n) => (probes.repartition(n, col(key)).hint("merge"), cands)
        case None => (probes.repartition(col(key)).hint("merge"),
                      cands.repartition(col(key)))
      }
    val joined = pa.join(pb, Seq(key))
    (if (keepSelf) joined
     else joined.filter(col("vec_id") =!= col("nn_id")))
      .withColumn("approx", expr("graft_dot8(qa, qb)"))
      .select("vec_id", "nn_id", "approx")
  }

  /** Top-3 neighbors per vector from a (vec_id, nn_id, cos) pair set.
    * r20: a bounded graft_topk aggregate instead of the row_number
    * window (guide §2.3, the d_agg_topk_partial shape): the exchange
    * carries ≤3-pair buffers per map-side group instead of every
    * candidate row, and the per-group sort disappears. graft_topk's
    * ordering (v DESC, id ASC with Spark's double total order) IS the
    * window's; every caller's pair set is per-(vec_id, nn_id) unique
    * (a candidate meets a probe in exactly one home cell), so
    * row_number and the bounded buffer agree even under cos ties. */
  private def top3(pairs: DataFrame): DataFrame =
    pairs.groupBy("vec_id")
      .agg(expr("graft_topk(cos, nn_id, 3)").as("top"))
      .select(col("vec_id"), posexplode(col("top")))
      .select(col("vec_id"), (col("pos") + 1).cast(IntegerType).as("rk"),
        col("col.id").as("nn_id"), Det.r4(col("col.v")).as("cos"))
      .orderBy("vec_id", "rk")

  /** Semantic-decontamination pair scan (§2.R — VERDICT r7 "What's
    * missing" #4): every (corpus vector, benchmark vector) pair within
    * cosine τ that meets in a probed IVF cell. Shingle-overlap
    * decontamination (`j_text_contamination`) misses PARAPHRASED eval
    * data; embedding proximity is the standard complement. The
    * benchmark side sits in its home cell (rn=1), corpus vectors probe
    * `nprobe` cells, and only same-cell pairs are scored — with the
    * EXACT unit vectors, so every emitted pair truly clears τ
    * (soundness exact, recall approximate: a pair whose members never
    * share a probed cell is missed; AnnOpsSpec measures planted-
    * paraphrase recall ≥ 0.9). At 100 TB the corpus never pairs with
    * the whole benchmark set — candidate volume is cell-size × probe
    * fan-out, the j_dedup_embed_ann argument with an asymmetric
    * candidate side (the benchmark set is tiny and broadcasts). */
  private[graft] def decontamPairs(u: DataFrame, isBench: Column,
                                   nRows: Long, nprobe: Int = 8,
                                   tau: Double = 0.4): DataFrame = {
    val s = u.sparkSession
    import s.implicits._
    val cents = kmeansCentroids(u, k = 16, iters = 5, maxSample = 256)
      .toSeq.toDF("cell_id", "cu")
    val ranked = graft.Caches.persisted(ivfRank(u, cents))
    val bench = ranked.filter(col("rn") === 1 && isBench)
      .select(col("vec_id"), col("cell_id").as("cell"), col("u"))
    val corpus = ranked.filter(col("rn") <= nprobe && !isBench)
      .select(col("vec_id"), col("cell_id").as("cell"), col("u"))
    pairAcrossBuckets(corpus, bench, "cell", nRows)
      .filter(col("cos") >= tau)
  }

  /** The STORED IVF index for `j_ann_incremental`: the 80% id-bucket
    * base split of `embeddings` clustered one time (sampled Lloyd's)
    * and written as catalog tables via [[AnnIndex.write]]. Every
    * subsequent delta run reads the tables — no sample, no Lloyd job,
    * no base-vector scan. A batch may [[AnnIndex.append]] to it, so
    * each session rewrites it on first resolution
    * ([[StoredArtifact.PerSession]]). */
  private[graft] def storedIndexPrefix(s: SparkSession, d: String): String =
    StoredArtifact(s, d, "ivf", Seq("embeddings"),
        tables = Seq("_cent", "_cells"),
        reentry = StoredArtifact.PerSession) { prefix =>
      val base = unit(s, d).drop("label")
        .filter(TextOps.splitBucket(col("vec_id")) < 80)
      // k=16 EXPLICIT, not AnnIndex.writeSized's √n rule: this store
      // feeds the oracled incremental entries, whose unrolled-Lloyd
      // CTE twins encode exactly 16 cells. Un-oracled production
      // indexes size by data — AnnIndexSpec pins the rule.
      AnnIndex.write(base, prefix, k = 16, iters = 5, maxSample = 256,
        nBuckets = LlmOps.storeBuckets(s))
    }

  /** Top principal component of the embedding corpus: ONE distributed
    * pass ([[gramCells]], stored once per corpus via [[gramTable]])
    * builds the centered 64×64 Gram/covariance matrix (per-row
    * outer products, decimal-summed per cell so the reduction is exact
    * and order-independent — a double accumulation would drift at the
    * last ulp under partition-order changes), then the eigensolve runs
    * to convergence on the driver (power iteration over a dims² = 4 KB
    * matrix — microseconds).
    *
    * This is the right 100 TB shape for tall-and-SKINNY embeddings:
    * corpus size only affects the one aggregation pass (partial
    * aggregation reduces each task to ≤ dims² cells before the
    * exchange), while iteration count — where a distributed per-step
    * matvec would pay a full corpus pass each round, 40+ of them on a
    * near-flat spectrum like this fixture's — costs nothing. The
    * distributed-matvec variant only wins when dims² outgrows driver
    * memory (≳50k dims), which embedding pipelines don't approach.
    *
    * Sign fixed (largest-|loading| coordinate positive). Declared
    * no-oracle (SURVEY §0.2 rule 4: iterative linear algebra has no
    * step-identical SQL twin); AnnOpsSpec gates it against an exact
    * driver-side eigensolve of the same corpus. */
  private[graft] def gramCells(s: SparkSession, d: String)
      : (Long, Array[Double], Array[Double]) = {
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    val x = Par.spread(Tables.embeddings(s, d))
      .select(col("embedding").cast(ArrayType(DoubleType)).as("v"))
    val n = x.count()
    val dims = 64
    def litArr(a: Array[Double]) = array(a.map(lit): _*)
    // per-dimension mean (decimal-exact)
    val mu = x.select(posexplode(col("v")).as(Seq("dim", "e")))
      .groupBy("dim")
      .agg((sum(col("e").cast(DecimalType(28, 12))).cast(DoubleType) /
        lit(n)).as("m"))
      .orderBy("dim").collect().map(_.getDouble(1))
    // one pass: UPPER-TRIANGLE outer products per row (the Gram
    // matrix is symmetric — 2080 cells instead of 4096, mirrored on
    // the driver) → exact per-cell decimal sums; the flattened
    // position k enumerates (i, j≥i) row-major, reproduced below
    val xc = x.select(
      zip_with(col("v"), litArr(mu), (a, b) => a - b).as("vc"))
    val iIdx = sequence(lit(0), lit(dims - 1))
    val cells = xc
      .select(posexplode(flatten(transform(iIdx, i =>
        transform(sequence(i, lit(dims - 1)), j =>
          element_at(col("vc"), i + 1) * element_at(col("vc"), j + 1)))))
        .as(Seq("k", "p")))
      .groupBy("k")
      .agg(sum(col("p").cast(DecimalType(28, 12))).cast(DoubleType)
        .as("s"))
      .orderBy("k").collect().map(_.getDouble(1))
    (n, mu, cells)
  }

  /** Catalog-stored Gram artifact (r19, the chargramProfileTable /
    * lmArtifactPrefix discipline): the per-dimension means, centered
    * upper-triangle cell sums and row count are corpus-snapshot
    * metadata — pure functions of embeddings.parquet — so they store
    * once per corpus under a fingerprinted name
    * ([[StoredArtifact]]) as ONE row (n, 64 + 2080 doubles ≈ 17 KB;
    * the `v2` kind versions the schema against stores written before
    * mu joined the row). The stored values are the exact
    * post-decimal-cast doubles [[gramCells]] collects, so every
    * downstream driver float op — and therefore the oracle hash — is
    * bit-identical; a later session resolves the table with zero
    * corpus jobs and pays one 1-row read instead of the two
    * corpus-wide passes (GramArtifactSpec pins both properties). */
  private[graft] def gramTable(s: SparkSession, d: String): String =
    StoredArtifact(s, d, "gramv2", Seq("embeddings")) { table =>
      val (n, mu, cells) = gramCells(s, d)
      import s.implicits._
      Seq((n, mu.toSeq, cells.toSeq)).toDF("n", "mu", "cells")
        .write.format("parquet").saveAsTable(table)
    }

  /** Top-PC decomposition pieces off the stored Gram artifact: the
    * sign-pivoted unit eigenvector, its Rayleigh eigenvalue, the
    * per-dimension means (for centering projections), and n. */
  /** Driver-side fixed-iteration power loop over a dims×dims matrix:
    * returns the UNPIVOTED final iterate and its Rayleigh quotient.
    * Every float op (matvec fold order, normalization, 1/√dims start)
    * mirrors the oracle's recursive-CTE step, so the iterate is
    * bit-identical to the SQL replay. */
  private def powerLoop(c: Array[Array[Double]], iters: Int)
      : (Array[Double], Double) = {
    val dims = c.length
    var v = Array.fill(dims)(1.0 / math.sqrt(dims))
    for (_ <- 1 to iters) {
      val w = Array.tabulate(dims)(i =>
        (0 until dims).map(j => c(i)(j) * v(j)).sum)
      val nrm = math.sqrt(w.map(e => e * e).sum)
      v = w.map(_ / nrm)
    }
    val rayleigh = (0 until dims).map(i =>
      v(i) * (0 until dims).map(j => c(i)(j) * v(j)).sum).sum
    (v, rayleigh)
  }

  /** Sign pivot (largest-|loading| coordinate positive, ties to the
    * lowest dim) — the oracle's pv CTE. */
  private def signPivot(v: Array[Double]): Array[Double] = {
    val pivot = v.indices.maxBy(i => (math.abs(v(i)), -i))
    if (v(pivot) < 0) v.map(-_) else v
  }

  private def gramMatrix(s: SparkSession, d: String)
      : (Array[Array[Double]], Array[Double], Long) = {
    val row = s.table(gramTable(s, d)).head()
    val n = row.getLong(0)
    val mu = row.getSeq[Double](1).toArray
    val cells = row.getSeq[Double](2)
    val dims = 64
    val c = Array.ofDim[Double](dims, dims)
    var k = 0
    for (i <- 0 until dims; j <- i until dims) {
      c(i)(j) = cells(k) / n
      c(j)(i) = c(i)(j)
      k += 1
    }
    (c, mu, n)
  }

  private[graft] def pcaComponents(s: SparkSession, d: String,
                                   iters: Int = 300)
      : (Array[Double], Double, Array[Double], Long) = {
    val (c, mu, n) = gramMatrix(s, d)
    // driver-side power iteration to convergence (4 KB matrix)
    val (v, rayleigh) = powerLoop(c, iters)
    (signPivot(v), rayleigh, mu, n)
  }

  /** Top TWO components via one deflation step: power on C, then
    * power on C₂ = C − λ₁v₁v₁ᵀ (the unpivoted iterate — v·vᵀ is
    * sign-invariant, so the deflated matrix is the same either way).
    * Returns (w1, λ1, w2, λ2, μ, n) with both eigenvectors
    * sign-pivoted. Convergence on the fixture spectrum: λ2/λ1 ≈ 0.93
    * and λ3/λ2 ≈ 0.96, so 300 iterations leave a mixing residual
    * ≤ 0.96³⁰⁰ ≈ 4·10⁻⁶ — converged; AnnOpsSpec measures alignment
    * and orthogonality against an exact driver eigensolve. */
  private[graft] def pcaComponents2(s: SparkSession, d: String,
                                    iters: Int = 300)
      : (Array[Double], Double, Array[Double], Double,
         Array[Double], Long) = {
    val (c, mu, n) = gramMatrix(s, d)
    val (v1, l1) = powerLoop(c, iters)
    val dims = c.length
    val c2 = Array.tabulate(dims, dims)((i, j) =>
      c(i)(j) - l1 * v1(i) * v1(j))
    val (v2, l2) = powerLoop(c2, iters)
    (signPivot(v1), l1, signPivot(v2), l2, mu, n)
  }

  private[graft] def pcaPower(s: SparkSession, d: String,
                              iters: Int = 300)
      : (Array[Double], Double, Long) = {
    val (v, lambda, _, n) = pcaComponents(s, d, iters)
    (v, lambda, n)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Top principal component (see [[pcaPower]]): per-dimension
    // loadings of the corpus's first PC plus the explained variance —
    // the embedding-space profile behind whitening and drift
    // monitoring. ORACLED since r11: the fixed-300-iteration power
    // loop twins as a recursive CTE over the same decimal-exact Gram
    // (every float op replicated in order), so the r8 "no-oracle by
    // convention" classification no longer applies. Rounding goes
    // through the standard Det.r4 column (was driver-side rint —
    // half-even vs the repo-wide half-up; aligned when the oracle
    // landed). AnnOpsSpec still gates vs the exact driver eigensolve.
    "j_embed_pca_power" -> { (s, d) =>
      val (v, lambda, n) = pcaPower(s, d)
      import s.implicits._
      v.zipWithIndex
        .map { case (l, i) => (i, l, lambda, n) }.toSeq
        .toDF("dim", "loading_raw", "eigenvalue_raw", "n")
        .select(col("dim"), Det.r4(col("loading_raw")).as("loading"),
          Det.r4(col("eigenvalue_raw")).as("eigenvalue"), col("n"))
        .orderBy("dim")
    },

    // Per-vector projection onto the corpus's top principal component
    // (the scoring half of [[pcaPower]]'s decomposition): pc1 =
    // (v − μ)·w with the sign-pivoted unit eigenvector w and the
    // decimal-exact means μ, both resolved from the stored Gram
    // artifact — the leading-PC score behind embedding outlier
    // pruning, whitening, and drift triage. The distributed COMPUTE
    // is map-only (scan → 64-element fold per row; w and μ ride in
    // as 16 KB of literals — no join, nothing wide crosses a wire);
    // the single Exchange in the plan is the suite's deterministic-
    // output sort over the narrow (vec_id, pc1) result, which
    // production scoring drops — at 100 TB the cost is the scan.
    // The per-row fold is a LEFT
    // fold in array order ((0+p₁)+p₂+…), matching the oracle's
    // list_reduce chain float-op for float-op; the driver pieces are
    // bit-identical to the oracle's recursive-CTE replay (same
    // argument as j_embed_pca_power), so the r4-rounded scores
    // hash-match. AnnOpsSpec gates the fold against an independent
    // driver-side projection of the same corpus.
    "j_embed_pca_project" -> { (s, d) =>
      val (w, _, mu, _) = pcaComponents(s, d)
      def litArr(a: Array[Double]) = array(a.map(lit): _*)
      val e = Tables.embeddings(s, d).select(col("vec_id"),
        col("embedding").cast(ArrayType(DoubleType)).as("v"))
      val prods = zip_with(
        zip_with(col("v"), litArr(mu), (a, b) => a - b),
        litArr(w), (a, b) => a * b)
      e.select(col("vec_id"),
          Det.r4(aggregate(prods, lit(0.0), (acc, x) => acc + x))
            .as("pc1"))
        .orderBy("vec_id")
    },

    // Two-component whitening scores (see [[pcaComponents2]]): zₖ =
    // (v − μ)·wₖ / √λₖ for the top two PCs — the decorrelated,
    // unit-variance coordinates behind embedding-space outlier
    // ellipses and drift dashboards. Same map-only shape as
    // j_embed_pca_project (two folds per row, components as
    // literals; the single Exchange in the plan is the suite's
    // deterministic-output sort, which production scoring drops);
    // the deflation second power loop twins
    // in the oracle as a second recursive CTE over C − λ₁v₁v₁ᵀ with
    // every float op matched, so the r4-rounded scores hash-match.
    // AnnOpsSpec gates alignment/orthogonality vs an exact driver
    // eigensolve and the unit-variance moment.
    "j_embed_whiten" -> { (s, d) =>
      val (w1, l1, w2, l2, mu, _) = pcaComponents2(s, d)
      def litArr(a: Array[Double]) = array(a.map(lit): _*)
      val e = Tables.embeddings(s, d).select(col("vec_id"),
        col("embedding").cast(ArrayType(DoubleType)).as("v"))
      val vc = zip_with(col("v"), litArr(mu), (a, b) => a - b)
      def score(w: Array[Double], l: Double) =
        Det.r4(aggregate(zip_with(vc, litArr(w), (a, b) => a * b),
          lit(0.0), (acc, x) => acc + x) / lit(math.sqrt(l)))
      e.select(col("vec_id"), score(w1, l1).as("z1"),
          score(w2, l2).as("z2"))
        .orderBy("vec_id")
    },

    // Incremental ANN — delta vs standing index (VERDICT r5 ask #3):
    // the 20% id-bucket delta split is assigned to the STANDING
    // k-means centroids (broadcast of 16 stored rows — no re-cluster;
    // AnnIndexSpec pins lloydRuns unchanged and no base-embedding scan
    // in the plan) and searched against the merged inverted lists
    // (stored cells ∪ the delta's own home assignments) with
    // multi-probe 8/16, for the delta probes only. ORACLED since r11:
    // the twin re-derives the stored index from the base split (Lloyd
    // on the base sample) and searches the same merged lists;
    // AnnIndexSpec still gates recall@3 vs brute force over base∪delta
    // ≥ 0.8 plus the two-batch append composition.
    "j_ann_incremental" -> { (s, d) =>
      graft.functions.VectorExprs.register(s)
      val prefix = storedIndexPrefix(s, d)
      val (cents, cells) = AnnIndex.read(s, prefix)
      val delta = unit(s, d).drop("label")
        .filter(TextOps.splitBucket(col("vec_id")) >= 80)
      // the delta is small by definition (that's the point of the
      // incremental path), so the ranked frame persists: one delta
      // scan + centroid broadcast + window feeds both the probe set
      // and the home assignments (the plan showed the whole chain
      // doubled otherwise)
      val ranked = graft.Caches.persisted(ivfRank(delta, cents)
        .filter(col("rn") <= 8)
        .select(col("vec_id"), col("cell_id").as("cell"), col("u"),
          col("rn")))
      val probes = ranked.drop("rn")
      val deltaHome = ranked.filter(col("rn") === 1).drop("rn")
      // searched as two joins so the STORED side keeps its bucket
      // layout in the co-partition regime (probes pre-partition to the
      // write-time bucket count; delta-vs-delta is a separate tiny
      // join) — identical pairs to joining the union
      val nRows = Tables.rowCount(s, d, "embeddings")
      val nb = DedupArtifacts.bucketCount(s, AnnIndex.cellsTable(prefix))
      top3(pairAcrossBuckets(probes, cells.select("vec_id", "cell", "u"),
          "cell", nRows, candBuckets = Some(nb))
        .unionByName(pairAcrossBuckets(probes, deltaHome, "cell", nRows)))
    },

    // The byte-lean variant of j_ann_incremental — what the stored
    // index actually ships at 100 TB: the candidate pass reads ONLY
    // (vec_id, cell, q) from the cells table (parquet column pruning;
    // 64 B int8 codes instead of 512 B doubles — AnnIndexSpec pins the
    // u-free candidate scan), scores with the codegen'd graft_dot8
    // MAC, and only the top-32 survivors per probe touch the exact
    // vectors again for the double re-rank. Same standing centroids,
    // zero Lloyd jobs; ORACLED since r11 like j_ann_incremental, with
    // the int8 candidate pass twinned in exact integer arithmetic.
    "j_ann_incremental_pq" -> { (s, d) =>
      graft.functions.VectorExprs.register(s)
      val prefix = storedIndexPrefix(s, d)
      val (cents, cells) = AnnIndex.read(s, prefix)
      val delta = unit(s, d).drop("label")
        .filter(TextOps.splitBucket(col("vec_id")) >= 80)
      val ranked = graft.Caches.persisted(quantized(ivfRank(delta, cents)
        .filter(col("rn") <= 8)
        .select(col("vec_id"), col("cell_id").as("cell"), col("u"),
          col("rn"))))
      val probes = ranked.select(col("vec_id"), col("cell"),
        col("q").as("qa"))
      val deltaHome = ranked.filter(col("rn") === 1)
      val nRows = Tables.rowCount(s, d, "embeddings")
      val nb = DedupArtifacts.bucketCount(s, AnnIndex.cellsTable(prefix))
      // stored codes keep their bucket layout; delta-vs-delta is a
      // separate tiny join (same pairs as joining the union)
      val survivors = pqPairs(probes,
          cells.select(col("vec_id").as("nn_id"), col("cell"),
            col("q").as("qb")),
          "cell", nRows, candBuckets = Some(nb))
        .unionByName(pqPairs(probes,
          deltaHome.select(col("vec_id").as("nn_id"), col("cell"),
            col("q").as("qb")), "cell", nRows))
        // r20: bounded graft_topk aggregate instead of the row_number
        // window (the j_ann_ivf_pq fold; candidates are per-
        // (vec_id, nn_id) unique across the two disjoint joins, and
        // the int approx is exact under the double cast)
        .groupBy("vec_id")
        .agg(expr("graft_topk(CAST(approx AS DOUBLE), nn_id, 32)")
          .as("top"))
        .select(col("vec_id"),
          explode(expr("transform(top, x -> x.id)")).as("nn_id"))
      val ua = deltaHome.select(col("vec_id"), col("u").as("ua"))
      val ub = cells.select(col("vec_id").as("nn_id"), col("u").as("ub"))
        .unionByName(deltaHome.select(col("vec_id").as("nn_id"),
          col("u").as("ub")))
      val exact = survivors.join(ua, "vec_id").join(ub, "nn_id")
        .withColumn("cos", expr("graft_dot(ua, ub)"))
        .select("vec_id", "nn_id", "cos")
      top3(exact)
    },

    // IVF-bucketed ANN: assign every vector to its nearest of 16 seed
    // centroids (vec_id < 16 — deterministic stand-in for k-means),
    // then search top-3 cosine neighbors WITHIN the cell only.
    "j_ann_ivf_topk" -> { (s, d) =>
      graft.functions.VectorExprs.register(s)
      val u = unit(s, d)
      // asg is BOTH sides of the in-cell self-join: persist it (the
      // j_ann_incremental discipline; released by Caches.release)
      val asg = graft.Caches.persisted(
        ivfAssign(u, seedCentroids(u)).drop("label"))
      // size-driven physical choice (pairWithinBucket): broadcast the
      // per-cell candidate lists while they fit, co-partition both
      // sides on cell once they don't
      top3(pairWithinBucket(asg, "cell", Tables.rowCount(s, d, "embeddings")))
    },

    // IVF with centroids from deterministic sampled k-means plus
    // multi-probe search (probe the 8 nearest of 16 cells) — the
    // geometry-aware production path next to the seed-centroid oracled
    // entry above. The fixture embeddings are near-uniform on the
    // sphere, so recall tracks the scanned fraction (measured: nprobe
    // 1→0.23, 8→0.81); clustered real-world embeddings reach the same
    // recall at far smaller nprobe. ORACLED since r11 — the sampled
    // Lloyd loop unrolls as CTEs (lloydSql) with order-replicated
    // float arithmetic, so the full centroid→probe→re-rank chain
    // hash-matches SQL; AnnOpsSpec still gates centroid determinism
    // under repartitioning and recall@3 ≥ 0.8 vs brute force.
    "j_ann_ivf_kmeans" -> { (s, d) =>
      graft.functions.VectorExprs.register(s)
      import s.implicits._
      val u = unit(s, d)
      val cents = kmeansCentroids(u, k = 16, iters = 5, maxSample = 256)
        .toSeq.toDF("cell_id", "cu")
      // exact-dup collapse (r13, VERDICT item 4): rank + pair once per
      // DISTINCT vector — dup-dense cells (the sf1 clique stress: 24 s
      // steady) stop paying n_dup² dots for equal scores. Results are
      // bit-identical (dupGroups scaladoc), so the oracle twin is
      // untouched: a member's top-3 lies within its rep's top-4
      // expanded candidates (+1 covers the self-exclusion).
      val (repU, mem) = dupGroups(u.select(col("vec_id"), col("u")))
      // ranked feeds BOTH the probe and home-cell splits: persist it
      // (the j_ann_incremental / j_dedup_embed_ann discipline — the
      // plan showed the scan→normalize→dup-collapse→rank chain
      // doubled otherwise; released by Caches.release)
      val ranked = graft.Caches.persisted(ivfRank(repU, cents))
      val probes = ranked.filter(col("rn") <= 8)
        .select(col("vec_id"), col("cell_id").as("cell"), col("u"))
      val cands = ranked.filter(col("rn") === 1)
        .select(col("vec_id"), col("cell_id").as("cell"), col("u"))
      val repPairs = pairAcrossBuckets(probes, cands, "cell",
        Tables.rowCount(s, d, "embeddings"), keepSelf = true)
      val candInd = repPairs
        .join(mem.select(col("rep").as("nn_id"), col("ind")), "nn_id")
        .select(col("vec_id"), col("ind").as("nn_ind"), col("cos"))
      // r20: bounded graft_topk aggregate instead of the row_number
      // window (the j_ann_ivf_pq fold; nn_ind is unique per rep group)
      val top4 = candInd.groupBy("vec_id")
        .agg(expr("graft_topk(cos, nn_ind, 4)").as("top"))
        .select(col("vec_id"), explode(col("top")).as("t"))
        .select(col("vec_id"), col("t.id").as("nn_ind"),
          col("t.v").as("cos"))
      val expanded = top4
        .join(mem.select(col("rep").as("vec_id"), col("ind").as("p_ind")),
          "vec_id")
        .filter(col("p_ind") =!= col("nn_ind"))
        .select(col("p_ind").as("vec_id"), col("nn_ind").as("nn_id"),
          col("cos"))
      top3(expanded)
    },

    // ANN-assisted embedding near-dup (§2.Q) — the sub-quadratic
    // sibling of j_dedup_embed_cosine, which compares ALL O(n²) pairs.
    // Same multi-probe IVF as j_ann_ivf_kmeans (8 of 16 cells): a
    // τ=0.4 "near dup" on the near-uniform fixture sphere is far less
    // near than a top-3 neighbor, so pair recall leans on BOTH meeting
    // directions — (a,b) when a's probes cover b's home cell and (b,a)
    // for the reverse — folded together by least/greatest
    // canonicalization below. (Before canonicalization only the
    // smaller-id direction counted and 8 probes measured 0.797 recall;
    // both directions clear the 0.8 floor at 8, where r7 needed 10.)
    // Only pairs sharing a probed cell are scored, and scoring uses the
    // EXACT unit vectors, so every emitted pair truly clears τ —
    // soundness is exact and the only approximation is recall (pairs
    // whose members never share a probed cell). At 100 TB this is the
    // only viable shape: candidate volume is sum of cell sizes × probe
    // fan-out, not n², and the exchange is bucketed by cell. Declared
    // no-oracle (k-means centroids); AnnOpsSpec gates it: emitted
    // pairs ⊆ the brute-force pair set, recall ≥ 0.8 on sf0.01.
    "j_dedup_embed_ann" -> { (s, d) =>
      graft.functions.VectorExprs.register(s)
      import s.implicits._
      val u = unit(s, d)
      val cents = kmeansCentroids(u, k = 16, iters = 5, maxSample = 256)
        .toSeq.toDF("cell_id", "cu")
      // ranked feeds both the probe and candidate splits — one
      // assignment pass, released by the harness's Caches.release
      val ranked = graft.Caches.persisted(ivfRank(u, cents))
      val probes = ranked.filter(col("rn") <= 8)
        .select(col("vec_id"), col("cell_id").as("cell"), col("u"))
      val cands = ranked.filter(col("rn") === 1)
        .select(col("vec_id"), col("cell_id").as("cell"), col("u"))
      pairAcrossBuckets(probes, cands, "cell",
          Tables.rowCount(s, d, "embeddings"))
        .filter(col("vec_id") =!= col("nn_id") && col("cos") >= 0.4)
        // canonicalize BEFORE dedup (ADVICE r7): a meeting can surface as
        // (a,b) — a's probes cover b's home cell — or (b,a); keeping only
        // vec_id < nn_id discarded the second direction and halved the
        // candidate-meeting opportunities the probe fan-out pays for.
        // least/greatest folds both directions into one pair, so the
        // same recall floor holds with a narrower probe list.
        .groupBy(least(col("vec_id"), col("nn_id")).as("vec_a"),
                 greatest(col("vec_id"), col("nn_id")).as("vec_b"))
        .agg(Det.r4(first(col("cos"))).as("cos"))
        .orderBy("vec_a", "vec_b")
    },

    // Semantic decontamination (§2.R): flag corpus embeddings within
    // cosine τ=0.4 of ANY benchmark vector (vec_id < 32 stands in for
    // the embedded eval set) via the multi-probe IVF scan of
    // [[decontamPairs]]. ORACLED since r11 via the Lloyd CTEs;
    // AnnOpsSpec gates planted-paraphrase recall ≥ 0.9 and
    // exact-cosine soundness of every flag.
    "j_decontam_embed" -> { (s, d) =>
      graft.functions.VectorExprs.register(s)
      val u = unit(s, d)
      // bench set = the 32 LOWEST vec_ids via a scalar-subquery cutoff
      // (r14: rank-based, portable to any id space; identical on the
      // fixtures' 0-rooted ids)
      decontamPairs(u,
          col("vec_id") <= org.apache.spark.sql.GraftPlanBridge
            .scalarSubquery(u.orderBy("vec_id").limit(32)
              .agg(max(col("vec_id")))),
          Tables.rowCount(s, d, "embeddings"))
        .groupBy(col("vec_id").as("doc_id"))
        .agg(count(lit(1)).as("n_bench_hits"),
          Det.r4(max(col("cos"))).as("max_cos"))
        .orderBy("doc_id")
    },

    // IVF + int8-quantized candidate generation with exact re-rank —
    // the byte-lean variant of j_ann_ivf_kmeans: same sampled-k-means
    // centroids and multi-probe 8/16, but the candidate pass scores
    // int8 codes (graft_dot8; 64 B/vector crosses the exchange instead
    // of 512 B), keeps the top-32 per probe by approximate score, and
    // only those survivors touch the full-precision vectors again
    // (exact graft_dot re-rank → top-3). ORACLED since r11 (the
    // Lloyd CTEs + exact-integer int8 dots twin in SQL); AnnOpsSpec
    // gates recall@3 ≥ 0.8 vs brute force and PlanSpec pins the
    // narrow int8 schema on the exchange.
    "j_ann_ivf_pq" -> { (s, d) =>
      graft.functions.VectorExprs.register(s)
      import s.implicits._
      val u = unit(s, d)
      val cents = kmeansCentroids(u, k = 16, iters = 5, maxSample = 256)
        .toSeq.toDF("cell_id", "cu")
      // exact-dup collapse (r13, VERDICT item 4), as in j_ann_ivf_
      // kmeans: int8 scoring once per distinct pair; a member's
      // top-32 survivor set is recovered from its rep's top-33
      // expanded candidates (+1 covers self-exclusion), so the
      // survivor set — and hence the oracle hash — is EXACTLY the
      // all-individuals pipeline's.
      val (repU, mem) = dupGroups(u.select(col("vec_id"), col("u")))
      // ranked and the int8 codes each feed BOTH the probe and
      // candidate splits: persist them (the j_ann_incremental_pq
      // discipline; released by Caches.release)
      val ranked = graft.Caches.persisted(ivfRank(repU, cents))
      val q = graft.Caches.persisted(
        quantized(repU).select(col("vec_id"), col("q")))
      val probes = ranked.filter(col("rn") <= 8)
        .select(col("vec_id"), col("cell_id").as("cell"))
        .join(q, "vec_id")
        .select(col("vec_id"), col("cell"), col("q").as("qa"))
      val cands = ranked.filter(col("rn") === 1)
        .select(col("vec_id"), col("cell_id").as("cell"))
        .join(q, "vec_id")
        .select(col("vec_id").as("nn_id"), col("cell"), col("q").as("qb"))
      val repPairs = pqPairs(probes, cands, "cell",
        Tables.rowCount(s, d, "embeddings"), keepSelf = true)
      val candInd = repPairs
        .join(mem.select(col("rep").as("nn_id"), col("ind")), "nn_id")
        .select(col("vec_id"), col("ind").as("nn_ind"), col("approx"))
      // r20 (VERDICT r19 item 4): the former two row_number windows —
      // top-33 per rep, then top-32 per member after self-exclusion —
      // each cost an Exchange + full sort of the candidate rows. The
      // per-rep top-33 is a bounded-buffer aggregate (graft_topk's
      // ordering IS (approx DESC, nn_ind ASC), TopKAgg's contract), so
      // one partial-aggregable ObjectHashAggregate replaces window 1,
      // and window 2 collapses into map-side array ops: a member's
      // top-32 is its rep's ordered top-33 minus self, positions 1..32
      // (the "+1 covers self-exclusion" invariant already documented
      // above). The int approx is exact under the double cast
      // (|dot8| ≤ 64·127² ≪ 2⁵³). At scale the shuffle drops from
      // every candidate row to ≤33-row buffers per (map, rep).
      val repTop = candInd.groupBy("vec_id")
        .agg(expr("graft_topk(CAST(approx AS DOUBLE), nn_ind, 33)")
          .as("top"))
      val survivors = repTop
        .join(mem.select(col("rep").as("vec_id"), col("ind").as("p_ind")),
          "vec_id")
        .select(col("p_ind"),
          explode(expr("slice(filter(top, x -> x.id != p_ind), 1, 32)"))
            .as("t"))
        .select(col("p_ind").as("vec_id"), col("t.id").as("nn_id"))
      val exact = survivors
        .join(u.select(col("vec_id"), col("u").as("ua")), "vec_id")
        .join(u.select(col("vec_id").as("nn_id"), col("u").as("ub")),
          "nn_id")
        .withColumn("cos", expr("graft_dot(ua, ub)"))
        .select("vec_id", "nn_id", "cos")
      top3(exact)
    },

    // kNN over IVF cells — the bounded-candidate kNN the custom
    // CosineKnn operator points to at scale: neighbors and the majority
    // label are computed WITHIN a probe's cell only, so the candidate
    // set per probe is one inverted list, never the table. Same
    // size-driven broadcast/co-partition choice as the ANN ops.
    "j_knn_ivf" -> { (s, d) =>
      graft.functions.VectorExprs.register(s)
      val u = unit(s, d)
      // asg is BOTH sides of the in-cell self-join: persist it (the
      // j_ann_incremental discipline; released by Caches.release)
      val asg = graft.Caches.persisted(ivfAssign(u, seedCentroids(u)))
      val pairs = pairWithinBucket(asg, "cell",
        Tables.rowCount(s, d, "embeddings"), candExtra = Seq("label"))
      val wTop = Window.partitionBy("vec_id")
        .orderBy(desc("cos"), asc("nn_id"))
      pairs.withColumn("rk", row_number().over(wTop))
        .filter(col("rk") <= 5)
        .groupBy(col("vec_id"), col("label"))
        .agg(count(lit(1)).as("votes"))
        .withColumn("mr", row_number().over(Window.partitionBy("vec_id")
          .orderBy(desc("votes"), asc("label"))))
        .filter(col("mr") === 1)
        .select(col("vec_id"), col("label").as("maj_label"), col("votes"))
        .orderBy("vec_id")
    },

    // LSH-bucketed ANN — the second bucketing family next to IVF:
    // random-hyperplane signatures (normals = the N lowest unit
    // vectors, deterministic stand-in for sampled Gaussian planes)
    // give a 2^N-bucket partition; search runs within a bucket.
    //
    // N is the SCALE knob (`spark.graft.ann.lshPlanes`, default 8 —
    // the value the oracle twin pins): bucket count must grow with
    // the corpus or per-bucket pairing turns quadratic — the r14
    // sf10 stress MEASURED it (202 k vectors ÷ 2⁸ fixed buckets →
    // 489 s, exponent ≈ 2.0; at 14 planes / 2¹⁴ buckets the same
    // corpus runs in seconds — SCALE.md §r14). Size N ≈
    // log2(n / target_bucket_size), a per-index write-time choice
    // exactly like the IVF cell count and the store bucket count.
    "j_ann_lsh_topk" -> { (s, d) =>
      graft.functions.VectorExprs.register(s)
      val nPlanes = s.conf.getOption("spark.graft.ann.lshPlanes")
        .map(_.toInt).getOrElse(8)
      // the DuckDB twin hard-pins 8 planes; under the oracle harness a
      // non-default knob would silently diverge the differential check
      // (ADVICE r14) — refuse instead of disclosing in a comment
      if (s.conf.getOption(graft.OracleKit.HarnessKey).contains("true"))
        require(nPlanes == 8,
          s"the j_ann_lsh_topk oracle twin pins 8 hyperplanes; unset " +
            s"spark.graft.ann.lshPlanes under the oracle harness " +
            s"(got $nPlanes)")
      val u = unit(s, d)
      // exact-dup collapse (r15, VERDICT r14 ask 4 — the follow-up the
      // IVF family already runs): signature + bucket pairing once per
      // DISTINCT vector, members expanded afterwards via the +1 rule
      // (dupGroups scaladoc), so dup cliques stop paying n_dup² dots
      // for equal scores. Bit-identical results — the oracle twin is
      // untouched.
      val (repU, mem) = dupGroups(u.select(col("vec_id"), col("u")))
      // planes = the N lowest-id DISTINCT vectors with RANK-derived
      // bit positions (r14, two finds: the old `vec_id < 8` literal +
      // pow(2, vec_id) assumed an id space rooted at 0 — zero planes
      // on shifted ids; and on a dup-dense corpus the lowest ids can
      // be EXACT COPIES of one vector, collapsing every signature bit
      // to one direction and re-merging the buckets — measured on the
      // Zipf corpus. repU IS that distinct-by-content min-id frame.)
      val planes = broadcast(repU
        .orderBy("vec_id").limit(nPlanes)
        .withColumn("plane_id", row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy("vec_id"))
          .cast(LongType) - 1)
        .select(col("plane_id"), col("u").as("pu")))
      val sig = repU.join(planes)
        .withColumn("pdot", expr("graft_dot(u, pu)"))
        .groupBy("vec_id")
        .agg(sum(when(col("pdot") >= 0,
          pow(lit(2.0), col("plane_id")).cast(LongType))
          .otherwise(0L)).as("bucket"))
      // persisted: the self-join reads asg twice (probe + candidate)
      val asg = graft.Caches.persisted(repU.join(sig, "vec_id"))
      val repPairs = pairAcrossBuckets(asg, asg, "bucket",
        Tables.rowCount(s, d, "embeddings"), keepSelf = true)
      // Rep-level cut BEFORE member expansion (r15, measured on sf10z:
      // near-dup FAMILIES share every signature bit at any plane
      // count, so buckets carry whole families and the expanded
      // candidate-individual set hit 186M rows — 3.6× the 51.6M rep
      // pairs — making the top-4 window shuffle the dominant cost).
      // Exact superset argument: order a probe's candidate reps by cos
      // desc; let c* be the cos of the first rep where the CUMULATIVE
      // clique size reaches 4 — at least 4 individuals then have
      // cos ≥ c*, so no individual with cos < c* can be in the top 4;
      // keeping every rep with cos ≥ c* (ALL ties included) is a
      // superset of the exact top-4 individuals, which the unchanged
      // individual-level window below then cuts exactly.
      // cliqueSz has one row per DISTINCT vector — it scales with the
      // corpus, not a constant, so it must NOT be force-broadcast
      // (ADVICE r15: O(n) rows to every executor on a mostly-unique
      // corpus). No hint: the size-driven join choice broadcasts it
      // while it fits (sf scales) and falls back to a shuffle join
      // keyed on nn_id beyond that — the same discipline as
      // pairAcrossBuckets' size-driven shapes.
      val cliqueSz = mem.groupBy("rep").agg(count(lit(1)).as("csz"))
      val wOrd = Window.partitionBy("vec_id").orderBy(desc("cos"), asc("nn_id"))
      val kept = repPairs
        .join(cliqueSz.withColumnRenamed("rep", "nn_id"), "nn_id")
        .withColumn("cum", sum("csz").over(
          wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("cstar", max(when(col("cum") >= 4, col("cos")))
          .over(Window.partitionBy("vec_id")))
        .filter(col("cstar").isNull || col("cos") >= col("cstar"))
        .select("vec_id", "nn_id", "cos")
      val candInd = kept
        .join(mem.select(col("rep").as("nn_id"), col("ind")), "nn_id")
        .select(col("vec_id"), col("ind").as("nn_ind"), col("cos"))
      // r20: bounded graft_topk aggregate instead of the row_number
      // window (the j_ann_ivf_pq fold; nn_ind is unique per rep group)
      val top4 = candInd.groupBy("vec_id")
        .agg(expr("graft_topk(cos, nn_ind, 4)").as("top"))
        .select(col("vec_id"), explode(col("top")).as("t"))
        .select(col("vec_id"), col("t.id").as("nn_ind"),
          col("t.v").as("cos"))
      val expanded = top4
        .join(mem.select(col("rep").as("vec_id"), col("ind").as("p_ind")),
          "vec_id")
        .filter(col("p_ind") =!= col("nn_ind"))
        .select(col("p_ind").as("vec_id"), col("nn_ind").as("nn_id"),
          col("cos"))
      top3(expanded)
    },

    // Deterministic stratified sample: ~10% per language via the
    // overflow-free id hash (TextOps.splitBucket) — emit the sample.
    "j_sample_stratified" -> { (s, d) =>
      Tables.documents(s, d)
        .withColumn("bucket", TextOps.splitBucket(col("doc_id")))
        .filter(col("bucket") < 10)
        .select(col("doc_id"), col("lang"), col("bucket"))
        .orderBy("doc_id")
    },

    // Class-balanced downsampling (r10): every label kept at exactly
    // the MINORITY class's count — the rebalancing step before
    // training a classifier on skewed labels. Selection is a
    // deterministic per-class ranking by the Lehmer id hash (never
    // rand()), so the kept SET is stable under repartitioning and
    // re-runs; kept_id_sum witnesses membership, not just counts.
    // One tiny count aggregate broadcasts the floor; the ranking is
    // one hash exchange on label (bounded-cardinality partitions —
    // salt the rank window per class at extreme label skew).
    "j_sample_class_balance" -> { (s, d) =>
      val e = Tables.embeddings(s, d).select(col("vec_id"), col("label"))
      val floor = e.groupBy("label").agg(count(lit(1)).as("n"))
        .agg(min(col("n")).as("m"))
      val w = Window.partitionBy("label")
        .orderBy(TextOps.splitBucket(col("vec_id")), col("vec_id"))
      e.crossJoin(broadcast(floor))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= col("m"))
        .groupBy("label")
        .agg(count(lit(1)).as("n_kept"),
          sum(col("vec_id")).as("kept_id_sum"))
        .orderBy("label")
    },

    // REAL image decode through the correctness gate (r8 — replaces
    // the byte-tiling stub): payloads are actual PNGs (JDK-encoded
    // grayscale, pixel j = (media_id + j) mod 256), decoded by
    // javax.imageio in the partition-batched mapPartitions stage
    // (Multimodal.decodeImages); width/height come from the decoded
    // raster and px_sum is the exact gray-sample sum. The DuckDB twin
    // never sees a PNG byte — it computes the same integers in CLOSED
    // FORM from the planted formula, so the hash-match proves the real
    // codec round-tripped every pixel (PNG is lossless). Corrupt
    // payloads surface as ok=false rows (MultimodalSpec), never a
    // thrown decode pass.
    "j_multimodal_decode_batch" -> { (s, d) =>
      // syntheticPngMedia spreads its input pre-generation, so decode
      // inherits the parallel layout with no second exchange
      val media = graft.functions.Multimodal.syntheticPngMedia(s, d)
      graft.functions.Multimodal.decodeImages(media).toDF()
        .filter(col("ok"))
        .select(col("media_id"), col("width"), col("height"),
          col("n_px"), col("px_sum"))
        .orderBy("media_id")
    },

    // Frame sampling for the video-kind media (every 5th frame as its
    // own binary payload, functions/Multimodal.sampleFrames) — emitted
    // as hex so the binary payload hashes engine-neutrally.
    "j_multimodal_frame_sample" -> { (s, d) =>
      val media = graft.functions.Multimodal.syntheticMedia(s, d)
      graft.functions.Multimodal.sampleFrames(media, everyK = 5)
        .select(col("media_id"), col("frame_idx"),
          hex(col("frame")).as("frame_hex"))
        .orderBy("media_id", "frame_idx")
    },

    // Windowed audio energy for the audio-kind media: payload bytes as
    // 8-bit PCM samples, 256-sample windows, per-window sum of squared
    // samples (functions/Multimodal.audioEnergy — partition-batched,
    // shuffle-free). Exact integer arithmetic; the DuckDB twin derives
    // the same numbers from the source text bytes analytically.
    "j_multimodal_audio_energy" -> { (s, d) =>
      val media = graft.Par.spread(
        graft.functions.Multimodal.syntheticMedia(s, d))
      graft.functions.Multimodal.audioEnergy(media).toDF()
        .orderBy("media_id", "win_idx")
    },

    // Multimodal binary-column pass: text bytes stand in for an image
    // payload (opaque BINARY + typed metadata). Real plumbing: binary
    // cast, byte length, magic-prefix sniff. Fake decode: width/height
    // derived deterministically from the byte length (DECODE STUB — a
    // real deployment swaps in an image decoder over mapPartitions /
    // mapInPandas with this exact output schema).
    "j_multimodal_features" -> { (s, d) =>
      Tables.documents(s, d)
        .withColumn("payload", col("text").cast(BinaryType))
        .withColumn("n_bytes", octet_length(col("text")).cast(LongType))
        .select(
          col("doc_id"),
          col("n_bytes"),
          // first-4-chars → bytes → hex on BOTH engines (DuckDB 1.0 has
          // no BLOB substring; fixture text is ASCII so chars == bytes)
          hex(encode(substring(col("text"), 1, 4), "UTF-8")).as("magic"),
          (lit(64L) + pmod(col("n_bytes"), lit(64L))).as("fake_width"),
          (lit(64L) + pmod(col("n_bytes") * 7L, lit(64L))).as("fake_height"))
        .orderBy("doc_id")
    },

    // Symmetric int8 embedding quantization (r10): the storage-side op
    // the PQ index uses internally, surfaced standalone — per-vector
    // scale = max|x|/127, codes = round(x/scale), plus the exact mean
    // reconstruction error. Everything is per-ROW array arithmetic
    // (no cross-row FP aggregation), so the result is bit-stable under
    // any partitioning; the codes ship as to_json (driver compare
    // rejects nested columns), r4 on the two derived doubles. At scale
    // this is a narrow projection — 4× cheaper storage for ANN
    // candidate passes with the error bound carried alongside.
    "j_embed_quantize" -> { (s, d) =>
      // internal name `ma` ≠ output name `max_abs`: a same-select
      // reference would LATERALLY resolve against the r4-ROUNDED alias
      // (spark.sql.lateralColumnAlias implicit resolution) and skew
      // every reconstruction error — caught by the oracle in r10
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      e.withColumn("ma",
          aggregate(col("v"), lit(0.0), (a, x) => greatest(a, abs(x))))
        .withColumn("q", transform(col("v"),
          x => graft.Det.r0(x * 127.0 / col("ma")).cast("int")))
        // reconstruction error as an EXACT integer (sum of per-element
        // |err| in 1e-12 units): per-element doubles are bit-identical
        // across engines, but a double mean ran into r4's half-way
        // boundary (DuckDB's list_sum is not a naive sequential fold)
        // — integerize BEFORE summing instead
        .withColumn("sae_e12", aggregate(
          zip_with(col("v"), col("q"), (x, qq) =>
            graft.Det.r0(abs(x - qq.cast("double") * col("ma") / 127.0)
              * 1e12).cast(LongType)),
          lit(0L), (a, x) => a + x))
        .select(
          col("vec_id"),
          Det.r4(col("ma")).as("max_abs"),
          to_json(col("q")).as("q8"),
          col("sae_e12"))
        .orderBy("vec_id")
    }
  )

  /** DuckDB twin of [[kmeansCentroids]] (r11, VERDICT r10 ask #3):
    * the sampled Lloyd loop unrolled as CTEs, ending in `c<iters>`
    * (cell_id, cu). Bit-equality with the driver loop holds because
    * every float operation replicates in ORDER: the sample is the
    * `maxSample` lowest vec_ids; per-cluster vector sums fold the
    * members in vec_id order (`list(u ORDER BY vec_id)` +
    * `list_reduce` — the driver accumulates in exactly that order);
    * dots are `list_dot_product` (sequential, proven equal to
    * graft_dot by the r7 IVF oracles); argmax ties break to the
    * lowest cell on both sides; an emptied cluster keeps its previous
    * centroid via the LEFT JOIN. `src` is the (vec_id, u) CTE the
    * sample draws from — `uv` for the whole-corpus entries, the base
    * split for the stored-index twins. */
  private def lloydSql(k: Int, iters: Int, maxSample: Int,
                       src: String = "uv"): String = {
    val init =
      s"""smp AS (SELECT vec_id, u FROM $src ORDER BY vec_id LIMIT $maxSample),
         |c0 AS (
         |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT)
         |      AS cell_id,
         |    list_transform(u, x -> x / sqrt(list_dot_product(u, u))) AS cu
         |  FROM (SELECT vec_id, u FROM smp ORDER BY vec_id LIMIT $k))""".stripMargin
    val steps = (0 until iters).map { it =>
      s"""a$it AS (
         |  SELECT s.vec_id, s.u, c.cell_id
         |  FROM smp s CROSS JOIN c$it c
         |  QUALIFY row_number() OVER (PARTITION BY s.vec_id
         |    ORDER BY list_dot_product(s.u, c.cu) DESC, c.cell_id ASC) = 1),
         |s$it AS (
         |  SELECT cell_id,
         |    list_reduce(list(u ORDER BY vec_id),
         |      (a, b) -> list_transform(a, (x, i) -> x + b[i])) AS sv
         |  FROM a$it GROUP BY cell_id),
         |c${it + 1} AS (
         |  SELECT c.cell_id,
         |    CASE WHEN s.cell_id IS NULL THEN c.cu
         |      ELSE list_transform(s.sv,
         |        x -> x / sqrt(list_dot_product(s.sv, s.sv)))
         |    END AS cu
         |  FROM c$it c LEFT JOIN s$it s ON s.cell_id = c.cell_id)""".stripMargin
    }
    (init +: steps).mkString(",\n")
  }

  /** Shared twin fragments of the r11 ANN oracles. */
  private val uvSql =
    """ec AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |un AS (
      |  SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM ec),
      |uv AS (
      |  SELECT vec_id, list_transform(v, x -> x / nrm) AS u FROM un)""".stripMargin

  /** ivfRank twin: every (vector of `src`, centroid of `cents`) pair
    * with the preference rank rn (ties to the lowest cell). */
  private def rankSql(name: String, src: String, cents: String): String =
    s"""$name AS (
       |  SELECT e.vec_id, c.cell_id, e.u,
       |    row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY list_dot_product(e.u, c.cu) DESC, c.cell_id ASC) AS rn
       |  FROM $src e CROSS JOIN $cents c)""".stripMargin

  /** top3 twin over a CTE `pr(vec_id, nn_id, cos)`. */
  private val top3Sql =
    """SELECT vec_id,
      |  CAST(row_number() OVER (PARTITION BY vec_id
      |    ORDER BY cos DESC, nn_id ASC) AS INT) AS rk,
      |  nn_id, (CASE WHEN NOT (abs(cos) < 9.0e11) THEN (cos) WHEN (cos) < 0 THEN -(floor(-(cos) * 10000 + 0.5) / 10000) ELSE floor((cos) * 10000 + 0.5) / 10000 END + 0) + 0 AS cos
      |FROM pr
      |QUALIFY rk <= 3
      |ORDER BY vec_id, rk""".stripMargin

  /** quantized twin: int8 codes as BIGINTs (the dot is exact integer
    * arithmetic on both engines; doubles represent it exactly). */
  private val qtSql =
    """qt AS (
      |  SELECT vec_id,
      |    list_transform(u, x -> CAST((CASE WHEN NOT (abs(x * 127) < 9.0e15) THEN (x * 127) WHEN (x * 127) < 0 THEN -(floor(-(x * 127) + 0.5)) ELSE floor((x * 127) + 0.5) END + 0) AS BIGINT)) AS q
      |  FROM uv)""".stripMargin

  /** Matvec fragment of the PCA twin: w = C·v with the inner sums
    * folded j = 0…63 in order, exactly as the driver loop adds them.
    * Assumes `c` (the 64×64 matrix as list-of-rows) and `v` in scope. */
  private val pcaMatvecSql =
    """list_transform(range(64), i ->
      |      list_reduce(list_transform(range(64),
      |        j -> c[i + 1][j + 1] * v[j + 1]), (a, b) -> a + b))""".stripMargin

  /** Shared CTE chain of the PCA oracle family (power + project +
    * whiten): decimal-exact centered Gram, the fixed-300-iteration
    * power loop, Rayleigh quotient and sign pivot. `ec` carries
    * vec_id so the per-vector twins can emit scores; the power twin
    * ignores it. The Gram/eigen CTEs are AS MATERIALIZED: DuckDB
    * (1.0) re-evaluates an inlined CTE on EVERY reference — including
    * once per iteration of a recursive CTE that joins it — so the
    * un-hinted power loop recomputed the full Gram 300 times (~25 s
    * at 500 vectors; the whiten twin's second loop would have
    * re-run the whole first chain per iteration, ~2 h). Materialized:
    * 0.3–0.7 s, bit-identical results (same computation, evaluated
    * once). */
  private val pcaCteSql =
    s"""WITH RECURSIVE ec AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |nn AS (SELECT count(*) AS n FROM ec),
       |idx AS (SELECT unnest(range(64)) AS i),
       |mus AS (
       |  SELECT i.i AS dim,
       |    CAST(SUM(CAST(e.v[i.i + 1] AS DECIMAL(28,12))) AS DOUBLE)
       |      / nn.n AS m
       |  FROM ec e, idx i, nn GROUP BY i.i, nn.n),
       |mul AS MATERIALIZED (SELECT list(m ORDER BY dim) AS mu FROM mus),
       |xc AS (
       |  SELECT list_transform(e.v, (x, k) -> x - mu[k]) AS vc
       |  FROM ec e, mul),
       |prs AS (SELECT a.i AS i, b.i AS j FROM idx a, idx b
       |        WHERE b.i >= a.i),
       |cls AS (
       |  SELECT p.i, p.j,
       |    CAST(SUM(CAST(x.vc[p.i + 1] * x.vc[p.j + 1]
       |      AS DECIMAL(28,12))) AS DOUBLE) AS s
       |  FROM xc x, prs p GROUP BY p.i, p.j),
       |fc AS (SELECT i, j, s FROM cls
       |       UNION ALL SELECT j AS i, i AS j, s FROM cls WHERE i <> j),
       |cm AS MATERIALIZED (
       |  SELECT list(row ORDER BY i) AS c FROM (
       |    SELECT f.i AS i, list(f.s / nn.n ORDER BY f.j) AS row
       |    FROM fc f, nn GROUP BY f.i, nn.n)),
       |pow AS (
       |  SELECT 0 AS it,
       |    list_transform(range(64), x -> CAST(0.125 AS DOUBLE)) AS v
       |  UNION ALL
       |  SELECT it + 1,
       |    (list_transform([$pcaMatvecSql], w ->
       |      list_transform(w, x -> x / sqrt(list_reduce(
       |        list_transform(w, y -> y * y), (a, b) -> a + b)))))[1]
       |  FROM pow, cm WHERE it < 300),
       |fin AS MATERIALIZED (SELECT v FROM pow WHERE it = 300),
       |ray AS MATERIALIZED (
       |  SELECT v,
       |    (list_transform([$pcaMatvecSql], w ->
       |      list_reduce(list_transform(range(64),
       |        i -> v[i + 1] * w[i + 1]), (a, b) -> a + b)))[1] AS lambda
       |  FROM fin, cm),
       |vi AS (SELECT t.i AS i, r.v[t.i + 1] AS lv, r.lambda AS lambda
       |       FROM ray r, idx t),
       |pv AS (SELECT lv < 0 AS neg FROM vi
       |       ORDER BY abs(lv) DESC, i ASC LIMIT 1)""".stripMargin

  val oracles: Map[String, String] = Map(
    // DuckDB twin of pcaPower (r11): the same decimal-exact centered
    // Gram (upper-triangle cells, DECIMAL(28,12) per-term casts,
    // mirrored), then the FIXED-300-iteration power loop as a
    // recursive CTE — each step binds w = C·v once via a one-element
    // list_transform and normalizes with the same in-order float
    // arithmetic the driver uses, so the iterate is bit-identical.
    // Sign pivot (max |loading|, lowest dim) and Rayleigh quotient
    // replicated; rounding is the standard r4 pair.
    "j_embed_pca_power" ->
      s"""$pcaCteSql
         |SELECT CAST(vi.i AS INT) AS dim,
         |  (CASE WHEN NOT (abs(CASE WHEN pv.neg THEN -vi.lv ELSE vi.lv END) < 9.0e11) THEN (CASE WHEN pv.neg THEN -vi.lv ELSE vi.lv END) WHEN (CASE WHEN pv.neg THEN -vi.lv ELSE vi.lv END) < 0 THEN -(floor(-(CASE WHEN pv.neg THEN -vi.lv ELSE vi.lv END) * 10000 + 0.5) / 10000) ELSE floor((CASE WHEN pv.neg THEN -vi.lv ELSE vi.lv END) * 10000 + 0.5) / 10000 END + 0) + 0
         |    AS loading,
         |  (CASE WHEN NOT (abs(vi.lambda) < 9.0e11) THEN (vi.lambda) WHEN (vi.lambda) < 0 THEN -(floor(-(vi.lambda) * 10000 + 0.5) / 10000) ELSE floor((vi.lambda) * 10000 + 0.5) / 10000 END + 0) + 0 AS eigenvalue, nn.n AS n
         |FROM vi, pv, nn ORDER BY dim""".stripMargin,

    // Projection twin: the same CTE chain up through the sign pivot,
    // then one scan of `ec` dotting each centered vector against the
    // pivoted eigenvector — list_reduce's fold order matches the
    // Spark side's left fold, and every input double is bit-identical
    // by the power twin's argument, so the r4-rounded scores agree.
    "j_embed_pca_project" -> {
      val dot = "list_reduce(list_transform(range(64), " +
        "i -> (e.v[i + 1] - mul.mu[i + 1]) * pw.w[i + 1]), " +
        "(a, b) -> a + b)"
      s"""$pcaCteSql,
         |pw AS (SELECT CASE WHEN pv.neg
         |         THEN list_transform(f.v, x -> -x)
         |         ELSE f.v END AS w
         |       FROM fin f, pv)
         |SELECT e.vec_id AS vec_id,
         |  ${Det.r4Sql(dot)} + 0 AS pc1
         |FROM ec e, mul, pw
         |ORDER BY vec_id""".stripMargin
    },

    // Whitening twin: the shared chain, then ONE deflation (cm2 =
    // C − λ₁v₁v₁ᵀ on the unpivoted iterate — sign-invariant), the
    // second 300-iteration loop as another recursive CTE (the
    // matvec fragment reuses cm2's column name `c`), its own
    // Rayleigh/pivot, and a scan emitting both centered dots over
    // √λ. Every driver float op is replayed in order, as in the
    // power/project pair.
    "j_embed_whiten" -> {
      def dotOver(pwa: String, raya: String) =
        "list_reduce(list_transform(range(64), " +
          s"i -> (e.v[i + 1] - mul.mu[i + 1]) * $pwa.w[i + 1]), " +
          s"(a, b) -> a + b) / sqrt($raya.lambda)"
      s"""$pcaCteSql,
         |pw AS (SELECT CASE WHEN pv.neg
         |         THEN list_transform(f.v, x -> -x)
         |         ELSE f.v END AS w
         |       FROM fin f, pv),
         |cm2 AS MATERIALIZED (
         |  SELECT list_transform(range(64), i ->
         |    list_transform(range(64), j ->
         |      cm.c[i + 1][j + 1]
         |        - r.lambda * r.v[i + 1] * r.v[j + 1])) AS c
         |  FROM cm, ray r),
         |pow2 AS (
         |  SELECT 0 AS it,
         |    list_transform(range(64), x -> CAST(0.125 AS DOUBLE)) AS v
         |  UNION ALL
         |  SELECT it + 1,
         |    (list_transform([$pcaMatvecSql], w ->
         |      list_transform(w, x -> x / sqrt(list_reduce(
         |        list_transform(w, y -> y * y), (a, b) -> a + b)))))[1]
         |  FROM pow2, cm2 WHERE it < 300),
         |fin2 AS MATERIALIZED (SELECT v FROM pow2 WHERE it = 300),
         |ray2 AS MATERIALIZED (
         |  SELECT v,
         |    (list_transform([$pcaMatvecSql], w ->
         |      list_reduce(list_transform(range(64),
         |        i -> v[i + 1] * w[i + 1]), (a, b) -> a + b)))[1] AS lambda
         |  FROM fin2, cm2),
         |vi2 AS (SELECT t.i AS i, r.v[t.i + 1] AS lv
         |        FROM ray2 r, idx t),
         |pv2 AS (SELECT lv < 0 AS neg FROM vi2
         |        ORDER BY abs(lv) DESC, i ASC LIMIT 1),
         |pw2 AS (SELECT CASE WHEN pv2.neg
         |          THEN list_transform(f.v, x -> -x)
         |          ELSE f.v END AS w
         |        FROM fin2 f, pv2)
         |SELECT e.vec_id AS vec_id,
         |  ${Det.r4Sql(dotOver("pw", "ray"))} + 0 AS z1,
         |  ${Det.r4Sql(dotOver("pw2", "ray2"))} + 0 AS z2
         |FROM ec e, mul, pw, pw2, ray, ray2
         |ORDER BY vec_id""".stripMargin
    },

    // Same arithmetic as the Spark side, step for step: cast to double,
    // unit-normalize elementwise, then plain dots (list_cosine_similarity
    // on FLOAT[] computes in float32 and diverges in the 8th digit).
    // The Lloyd CTEs then twin the driver k-means loop (see lloydSql),
    // and the multi-probe pairing mirrors ivfRank/pairAcrossBuckets:
    // rn ≤ 8 probe cells × rn = 1 home cells.
    "j_ann_ivf_kmeans" ->
      s"""WITH ec AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |un AS (
         |  SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM ec),
         |uv AS (
         |  SELECT vec_id, list_transform(v, x -> x / nrm) AS u FROM un),
         |${lloydSql(k = 16, iters = 5, maxSample = 256)},
         |rk_all AS (
         |  SELECT e.vec_id, c.cell_id, e.u,
         |    row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY list_dot_product(e.u, c.cu) DESC, c.cell_id ASC)
         |      AS rn
         |  FROM uv e CROSS JOIN c5 c),
         |probes AS (SELECT vec_id, cell_id AS cell, u FROM rk_all
         |           WHERE rn <= 8),
         |cands AS (SELECT vec_id, cell_id AS cell, u FROM rk_all
         |          WHERE rn = 1),
         |pr AS (
         |  SELECT a.vec_id, b.vec_id AS nn_id,
         |         list_dot_product(a.u, b.u) AS cos
         |  FROM probes a JOIN cands b
         |    ON a.cell = b.cell AND a.vec_id <> b.vec_id)
         |SELECT vec_id,
         |  CAST(row_number() OVER (PARTITION BY vec_id
         |    ORDER BY cos DESC, nn_id ASC) AS INT) AS rk,
         |  nn_id, (CASE WHEN NOT (abs(cos) < 9.0e11) THEN (cos) WHEN (cos) < 0 THEN -(floor(-(cos) * 10000 + 0.5) / 10000) ELSE floor((cos) * 10000 + 0.5) / 10000 END + 0) + 0 AS cos
         |FROM pr
         |QUALIFY rk <= 3
         |ORDER BY vec_id, rk""".stripMargin,
    // the PQ variant: same Lloyd centroids, int8 candidate scoring
    // (exact integer dot on both engines), top-32 survivors, exact
    // double re-rank — stage for stage with the Spark entry
    "j_ann_ivf_pq" ->
      s"""WITH $uvSql,
         |${lloydSql(k = 16, iters = 5, maxSample = 256)},
         |$qtSql,
         |${rankSql("rk_all", "uv", "c5")},
         |probes AS (
         |  SELECT r.vec_id, r.cell_id AS cell, q.q AS qa
         |  FROM rk_all r JOIN qt q USING (vec_id) WHERE r.rn <= 8),
         |cands AS (
         |  SELECT r.vec_id, r.cell_id AS cell, q.q AS qb
         |  FROM rk_all r JOIN qt q USING (vec_id) WHERE r.rn = 1),
         |apx AS (
         |  SELECT a.vec_id, b.vec_id AS nn_id,
         |         list_dot_product(a.qa, b.qb) AS approx
         |  FROM probes a JOIN cands b
         |    ON a.cell = b.cell AND a.vec_id <> b.vec_id),
         |surv AS (
         |  SELECT vec_id, nn_id FROM apx
         |  QUALIFY row_number() OVER (PARTITION BY vec_id
         |    ORDER BY approx DESC, nn_id ASC) <= 32),
         |pr AS (
         |  SELECT s.vec_id, s.nn_id, list_dot_product(ua.u, ub.u) AS cos
         |  FROM surv s
         |  JOIN uv ua ON ua.vec_id = s.vec_id
         |  JOIN uv ub ON ub.vec_id = s.nn_id)
         |$top3Sql""".stripMargin,
    // ANN near-dup pairs: probe×home meetings, exact cosine gate,
    // least/greatest canonicalization (both directions carry the same
    // symmetric dot, so max(cos) == the Spark side's first(cos))
    "j_dedup_embed_ann" ->
      s"""WITH $uvSql,
         |${lloydSql(k = 16, iters = 5, maxSample = 256)},
         |${rankSql("rk_all", "uv", "c5")},
         |probes AS (SELECT vec_id, cell_id AS cell, u FROM rk_all
         |           WHERE rn <= 8),
         |cands AS (SELECT vec_id, cell_id AS cell, u FROM rk_all
         |          WHERE rn = 1),
         |pr AS (
         |  SELECT a.vec_id, b.vec_id AS nn_id,
         |         list_dot_product(a.u, b.u) AS cos
         |  FROM probes a JOIN cands b
         |    ON a.cell = b.cell AND a.vec_id <> b.vec_id)
         |SELECT least(vec_id, nn_id) AS vec_a,
         |  greatest(vec_id, nn_id) AS vec_b,
         |  (CASE WHEN NOT (abs(max(cos)) < 9.0e11) THEN (max(cos)) WHEN (max(cos)) < 0 THEN -(floor(-(max(cos)) * 10000 + 0.5) / 10000) ELSE floor((max(cos)) * 10000 + 0.5) / 10000 END + 0) + 0 AS cos
         |FROM pr WHERE cos >= 0.4
         |GROUP BY 1, 2 ORDER BY vec_a, vec_b""".stripMargin,
    // semantic decontamination: corpus probes × benchmark home cells
    // (vec_id < 32), exact-cosine τ gate, per-corpus-doc hit counts
    "j_decontam_embed" ->
      s"""WITH $uvSql,
         |${lloydSql(k = 16, iters = 5, maxSample = 256)},
         |${rankSql("rk_all", "uv", "c5")},
         |bcut AS (SELECT max(vec_id) AS c FROM
         |  (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 32) t),
         |corpus AS (SELECT vec_id, cell_id AS cell, u FROM rk_all
         |           WHERE rn <= 8 AND vec_id > (SELECT c FROM bcut)),
         |bench AS (SELECT vec_id, cell_id AS cell, u FROM rk_all
         |          WHERE rn = 1 AND vec_id <= (SELECT c FROM bcut)),
         |pr AS (
         |  SELECT a.vec_id, b.vec_id AS nn_id,
         |         list_dot_product(a.u, b.u) AS cos
         |  FROM corpus a JOIN bench b
         |    ON a.cell = b.cell AND a.vec_id <> b.vec_id)
         |SELECT vec_id AS doc_id, count(*) AS n_bench_hits,
         |  (CASE WHEN NOT (abs(max(cos)) < 9.0e11) THEN (max(cos)) WHEN (max(cos)) < 0 THEN -(floor(-(max(cos)) * 10000 + 0.5) / 10000) ELSE floor((max(cos)) * 10000 + 0.5) / 10000 END + 0) + 0 AS max_cos
         |FROM pr WHERE cos >= 0.4
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // incremental index twin: Lloyd runs on the BASE split's sample
    // only (the stored index's build input); base home cells are the
    // stored inverted lists, the delta ranks against the standing
    // centroids, and the search is probes × (stored cells ∪ delta
    // homes) — the Spark side's two joins produce exactly these pairs
    "j_ann_incremental" ->
      s"""WITH $uvSql,
         |buv AS (SELECT vec_id, u FROM uv
         |        WHERE ${TextOps.splitBucketSql("vec_id")} < 80),
         |duv AS (SELECT vec_id, u FROM uv
         |        WHERE ${TextOps.splitBucketSql("vec_id")} >= 80),
         |${lloydSql(k = 16, iters = 5, maxSample = 256, src = "buv")},
         |${rankSql("rk_b", "buv", "c5")},
         |${rankSql("rk_d", "duv", "c5")},
         |cand AS (
         |  SELECT vec_id, cell_id AS cell, u FROM rk_b WHERE rn = 1
         |  UNION ALL
         |  SELECT vec_id, cell_id AS cell, u FROM rk_d WHERE rn = 1),
         |probes AS (SELECT vec_id, cell_id AS cell, u FROM rk_d
         |           WHERE rn <= 8),
         |pr AS (
         |  SELECT a.vec_id, b.vec_id AS nn_id,
         |         list_dot_product(a.u, b.u) AS cos
         |  FROM probes a JOIN cand b
         |    ON a.cell = b.cell AND a.vec_id <> b.vec_id)
         |$top3Sql""".stripMargin,
    // the stored-index PQ search: int8 candidate pass over the same
    // merged lists, top-32 survivors, exact re-rank
    "j_ann_incremental_pq" ->
      s"""WITH $uvSql,
         |buv AS (SELECT vec_id, u FROM uv
         |        WHERE ${TextOps.splitBucketSql("vec_id")} < 80),
         |duv AS (SELECT vec_id, u FROM uv
         |        WHERE ${TextOps.splitBucketSql("vec_id")} >= 80),
         |${lloydSql(k = 16, iters = 5, maxSample = 256, src = "buv")},
         |$qtSql,
         |${rankSql("rk_b", "buv", "c5")},
         |${rankSql("rk_d", "duv", "c5")},
         |cand AS (
         |  SELECT r.vec_id, r.cell_id AS cell, q.q AS qb
         |  FROM rk_b r JOIN qt q USING (vec_id) WHERE r.rn = 1
         |  UNION ALL
         |  SELECT r.vec_id, r.cell_id AS cell, q.q AS qb
         |  FROM rk_d r JOIN qt q USING (vec_id) WHERE r.rn = 1),
         |probes AS (
         |  SELECT r.vec_id, r.cell_id AS cell, q.q AS qa
         |  FROM rk_d r JOIN qt q USING (vec_id) WHERE r.rn <= 8),
         |apx AS (
         |  SELECT a.vec_id, b.vec_id AS nn_id,
         |         list_dot_product(a.qa, b.qb) AS approx
         |  FROM probes a JOIN cand b
         |    ON a.cell = b.cell AND a.vec_id <> b.vec_id),
         |surv AS (
         |  SELECT vec_id, nn_id FROM apx
         |  QUALIFY row_number() OVER (PARTITION BY vec_id
         |    ORDER BY approx DESC, nn_id ASC) <= 32),
         |pr AS (
         |  SELECT s.vec_id, s.nn_id, list_dot_product(ua.u, ub.u) AS cos
         |  FROM surv s
         |  JOIN uv ua ON ua.vec_id = s.vec_id
         |  JOIN uv ub ON ub.vec_id = s.nn_id)
         |$top3Sql""".stripMargin,
    "j_ann_ivf_topk" ->
      """WITH ec AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |un AS (
        |  SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM ec),
        |uv AS (
        |  SELECT vec_id, list_transform(v, x -> x / nrm) AS u FROM un),
        |seeds AS (
        |  SELECT vec_id, u FROM uv ORDER BY vec_id LIMIT 16),
        |asg AS (
        |  SELECT e.vec_id, c.vec_id AS cell, e.u
        |  FROM uv e JOIN seeds c ON true
        |  QUALIFY row_number() OVER (PARTITION BY e.vec_id
        |    ORDER BY list_dot_product(e.u, c.u) DESC, c.vec_id ASC) = 1),
        |pr AS (
        |  SELECT a.vec_id, b.vec_id AS nn_id,
        |         list_dot_product(a.u, b.u) AS cos
        |  FROM asg a JOIN asg b
        |    ON a.cell = b.cell AND a.vec_id <> b.vec_id)
        |SELECT vec_id,
        |  CAST(row_number() OVER (PARTITION BY vec_id
        |    ORDER BY cos DESC, nn_id ASC) AS INT) AS rk,
        |  nn_id, (CASE WHEN NOT (abs(cos) < 9.0e11) THEN (cos) WHEN (cos) < 0 THEN -(floor(-(cos) * 10000 + 0.5) / 10000) ELSE floor((cos) * 10000 + 0.5) / 10000 END + 0) + 0 AS cos
        |FROM pr
        |QUALIFY rk <= 3
        |ORDER BY vec_id, rk""".stripMargin,
    "j_ann_lsh_topk" ->
      """WITH ec AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |un AS (
        |  SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM ec),
        |uv AS (
        |  SELECT vec_id, list_transform(v, x -> x / nrm) AS u FROM un),
        |planes AS (
        |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS plane_id, u
        |  FROM (SELECT min(vec_id) AS vec_id, u FROM uv GROUP BY u
        |        ORDER BY vec_id LIMIT 8) t),
        |sig AS (
        |  SELECT e.vec_id,
        |    SUM(CASE WHEN list_dot_product(e.u, p.u) >= 0
        |             THEN CAST(power(2, p.plane_id) AS BIGINT)
        |             ELSE 0 END) AS bucket
        |  FROM uv e JOIN planes p ON true
        |  GROUP BY e.vec_id),
        |asg AS (
        |  SELECT s.vec_id, s.bucket, u.u
        |  FROM sig s JOIN uv u ON u.vec_id = s.vec_id),
        |pr AS (
        |  SELECT a.vec_id, b.vec_id AS nn_id,
        |         list_dot_product(a.u, b.u) AS cos
        |  FROM asg a JOIN asg b
        |    ON a.bucket = b.bucket AND a.vec_id <> b.vec_id)
        |SELECT vec_id,
        |  CAST(row_number() OVER (PARTITION BY vec_id
        |    ORDER BY cos DESC, nn_id ASC) AS INT) AS rk,
        |  nn_id, (CASE WHEN NOT (abs(cos) < 9.0e11) THEN (cos) WHEN (cos) < 0 THEN -(floor(-(cos) * 10000 + 0.5) / 10000) ELSE floor((cos) * 10000 + 0.5) / 10000 END + 0) + 0 AS cos
        |FROM pr
        |QUALIFY rk <= 3
        |ORDER BY vec_id, rk""".stripMargin,
    "j_knn_ivf" ->
      """WITH ec AS (
        |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings),
        |un AS (
        |  SELECT vec_id, label, v, sqrt(list_dot_product(v, v)) AS nrm
        |  FROM ec),
        |uv AS (
        |  SELECT vec_id, label, list_transform(v, x -> x / nrm) AS u
        |  FROM un),
        |seeds AS (
        |  SELECT vec_id, u FROM uv ORDER BY vec_id LIMIT 16),
        |asg AS (
        |  SELECT e.vec_id, e.label, e.u, c.vec_id AS cell
        |  FROM uv e JOIN seeds c ON true
        |  QUALIFY row_number() OVER (PARTITION BY e.vec_id
        |    ORDER BY list_dot_product(e.u, c.u) DESC, c.vec_id ASC) = 1),
        |top5 AS (
        |  SELECT a.vec_id, b.label AS b_label
        |  FROM asg a JOIN asg b ON a.cell = b.cell AND a.vec_id <> b.vec_id
        |  QUALIFY row_number() OVER (PARTITION BY a.vec_id
        |    ORDER BY list_dot_product(a.u, b.u) DESC, b.vec_id ASC) <= 5),
        |votes AS (
        |  SELECT vec_id, b_label, count(*) AS votes
        |  FROM top5 GROUP BY 1, 2)
        |SELECT vec_id, b_label AS maj_label, votes FROM votes
        |QUALIFY row_number() OVER (PARTITION BY vec_id
        |  ORDER BY votes DESC, b_label ASC) = 1
        |ORDER BY vec_id""".stripMargin,
    "j_sample_stratified" ->
      s"""SELECT doc_id, lang, ${TextOps.splitBucketSql("doc_id")} AS bucket
        |FROM documents
        |WHERE ${TextOps.splitBucketSql("doc_id")} < 10
        |ORDER BY doc_id""".stripMargin,
    "j_sample_class_balance" ->
      s"""WITH m AS (SELECT min(n) AS m FROM (
         |  SELECT label, count(*) AS n FROM embeddings GROUP BY label)),
         |r AS (
         |  SELECT vec_id, label,
         |    row_number() OVER (PARTITION BY label
         |      ORDER BY ${TextOps.splitBucketSql("vec_id")}, vec_id)
         |      AS rk
         |  FROM embeddings)
         |SELECT label, count(*) AS n_kept,
         |  CAST(sum(vec_id) AS BIGINT) AS kept_id_sum
         |FROM r, m WHERE rk <= m.m
         |GROUP BY label ORDER BY label""".stripMargin,
    // closed form of the planted-PNG pixel sum: pixels are the
    // consecutive run (s, s+1, …) mod 256 with s = media_id mod 256,
    // so the sum is full-cycles · 32640 plus a remainder-run sum that
    // either stays below the 256 wrap or splits once across it
    "j_multimodal_decode_batch" ->
      """WITH m AS (
        |  SELECT doc_id AS media_id,
        |    CAST(n_chars % 64 + 16 AS INT) AS width,
        |    CAST(n_chars % 48 + 16 AS INT) AS height
        |  FROM documents),
        |c AS (
        |  SELECT media_id, width, height,
        |    CAST(width AS BIGINT) * height AS n_px,
        |    media_id % 256 AS s, CAST(width AS BIGINT) * height % 256 AS r
        |  FROM m)
        |SELECT media_id, width, height, n_px,
        |  (n_px // 256) * 32640
        |  + CASE WHEN s + r <= 256
        |      THEN r * s + r * (r - 1) // 2
        |      ELSE (256 - s) * s + (256 - s) * (255 - s) // 2
        |           + (r - (256 - s) - 1) * (r - (256 - s)) // 2
        |    END AS px_sum
        |FROM c ORDER BY media_id""".stripMargin,
    "j_multimodal_frame_sample" ->
      """SELECT media_id, CAST(u.idx AS INT) AS frame_idx,
        |  u.fh AS frame_hex
        |FROM (
        |  SELECT doc_id AS media_id,
        |    unnest(list_transform(
        |      range(CAST((n_chars % 30 + 1 - 1) // 5 + 1 AS BIGINT)),
        |      i -> struct_pack(idx := i,
        |        fh := hex(encode(substring(text,
        |          CAST(i * 5 * 256 + 1 AS INT), 256)))))) AS u
        |  FROM documents WHERE doc_id % 3 = 2)
        |ORDER BY media_id, frame_idx""".stripMargin,
    "j_multimodal_audio_energy" ->
      """SELECT doc_id AS media_id, CAST(u.wi AS INT) AS win_idx,
        |  CAST(strlen(u.seg) AS INT) AS n_samples,
        |  CAST(list_sum(list_transform(string_split(u.seg, ''),
        |    c -> ascii(c) * ascii(c))) AS BIGINT) AS energy
        |FROM (
        |  SELECT doc_id,
        |    unnest(list_transform(
        |      range(CAST((strlen(text) + 255) // 256 AS BIGINT)),
        |      i -> struct_pack(wi := i,
        |        seg := substring(text, CAST(i * 256 + 1 AS INT), 256))))
        |      AS u
        |  FROM documents WHERE doc_id % 3 = 1)
        |ORDER BY media_id, win_idx""".stripMargin,
    "j_multimodal_features" ->
      """SELECT doc_id,
        |  CAST(strlen(text) AS BIGINT) AS n_bytes,
        |  hex(encode(substring(text, 1, 4))) AS magic,
        |  64 + CAST(strlen(text) AS BIGINT) % 64 AS fake_width,
        |  64 + (CAST(strlen(text) AS BIGINT) * 7) % 64 AS fake_height
        |FROM documents ORDER BY doc_id""".stripMargin,
    "j_embed_quantize" ->
      """WITH e AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |m AS (
        |  SELECT vec_id, v,
        |    list_aggregate(list_transform(v, x -> abs(x)), 'max') AS max_abs
        |  FROM e),
        |q AS (
        |  SELECT vec_id, v, max_abs,
        |    list_transform(v, x -> CAST((CASE WHEN NOT (abs(x * 127.0 / max_abs) < 9.0e15) THEN (x * 127.0 / max_abs) WHEN (x * 127.0 / max_abs) < 0 THEN -(floor(-(x * 127.0 / max_abs) + 0.5)) ELSE floor((x * 127.0 / max_abs) + 0.5) END + 0) AS INT))
        |      AS qv
        |  FROM m)
        |SELECT vec_id,
        |  (CASE WHEN NOT (abs(max_abs) < 9.0e11) THEN (max_abs) WHEN (max_abs) < 0 THEN -(floor(-(max_abs) * 10000 + 0.5) / 10000) ELSE floor((max_abs) * 10000 + 0.5) / 10000 END + 0) AS max_abs,
        |  CAST(to_json(qv) AS VARCHAR) AS q8,
        |  CAST(list_sum(list_transform(
        |    list_zip(v, qv),
        |    p -> CAST((CASE WHEN NOT (abs(abs(p[1] - CAST(p[2] AS DOUBLE)
        |        * max_abs / 127.0) * 1e12) < 9.0e15)
        |      THEN (abs(p[1] - CAST(p[2] AS DOUBLE) * max_abs / 127.0) * 1e12)
        |      ELSE floor((abs(p[1] - CAST(p[2] AS DOUBLE) * max_abs / 127.0)
        |        * 1e12) + 0.5) END + 0) AS BIGINT))) AS BIGINT) AS sae_e12
        |FROM q ORDER BY vec_id""".stripMargin
  )
}
