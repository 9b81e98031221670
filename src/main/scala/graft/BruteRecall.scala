package graft


/** Routed-mode recall quantifier (r18, VERDICT r17 item 5): the
  * BruteGuard `spark.graft.brute.route=true` escape substitutes the
  * sub-quadratic sibling's result for a guarded O(n²) baseline; its
  * recall caveat needs NUMBERS. Runs each guarded entry twice on a
  * fixture — exact (cap raised so the brute branch runs) and routed
  * (cap 0 + route=true, the sibling) — and prints:
  *  - `j_sim_cosine_topk`: top-10 pair overlap (routed ∩ exact)/10;
  *  - `j_dedup_embed_cosine`: pair recall |∩|/|exact| and precision
  *    |∩|/|routed| (precision is expected 1.0 — the sibling verifies
  *    exact cosines on its candidates, so it can only MISS pairs).
  * Results land in SCALE.md §r18; BruteRouteRecallSpec pins the floor
  * on the unit fixture. Usage:
  *   runMain graft.BruteRecall <sfDir>...
  */
object BruteRecall {
  def main(args: Array[String]): Unit = {
    val dirs = if (args.nonEmpty) args.toSeq else Seq("/root/testdata/sf0.1")
    val spark = GraftSession(32,
      conf = Map("spark.sql.adaptive.enabled" -> "false"))
    for (d <- dirs) {
      println(s"--- $d ---")
      def pairs(name: String, exact: Boolean): Set[(Long, Long)] = {
        if (exact) {
          spark.conf.set(operators.BruteGuard.MaxRowsKey, "1000000000000")
          spark.conf.unset(operators.BruteGuard.RouteKey)
        } else {
          spark.conf.set(operators.BruteGuard.MaxRowsKey, "0")
          spark.conf.set(operators.BruteGuard.RouteKey, "true")
        }
        try {
          val t0 = System.nanoTime()
          val r = SparkEntry.queries(name)(spark, d)
            .select("vec_a", "vec_b").collect()
            .map(r => (r.getLong(0), r.getLong(1))).toSet
          println(f"  ${if (exact) "exact" else "routed"} $name%-24s " +
            f"${(System.nanoTime - t0) / 1e9}%.1f s  pairs=${r.size}")
          r
        } finally {
          spark.conf.unset(operators.BruteGuard.MaxRowsKey)
          spark.conf.unset(operators.BruteGuard.RouteKey)
          Caches.release(spark)
        }
      }
      val et = pairs("j_sim_cosine_topk", exact = true)
      val rt = pairs("j_sim_cosine_topk", exact = false)
      println(s"  j_sim_cosine_topk top-10 overlap: " +
        s"${(et intersect rt).size}/${et.size}")
      val ep = pairs("j_dedup_embed_cosine", exact = true)
      val rp = pairs("j_dedup_embed_cosine", exact = false)
      val inter = (ep intersect rp).size
      println(f"  j_dedup_embed_cosine recall=${inter.toDouble / ep.size}%.4f " +
        f"precision=${inter.toDouble / rp.size}%.4f " +
        s"(exact=${ep.size} routed=${rp.size})")
      // r19 routed pairs (VERDICT r18 item 1): the native-Expression
      // top-10 twin and the kNN majority-label entry.
      val en = pairs("l_expr_native_cosine", exact = true)
      val rn = pairs("l_expr_native_cosine", exact = false)
      println(s"  l_expr_native_cosine top-10 overlap: " +
        s"${(en intersect rn).size}/${en.size}")
      // kNN: per-vector (vec_id → maj_label); routed = within-IVF-cell
      // neighbors, so measure id coverage and label agreement on the
      // covered ids.
      def labels(exact: Boolean): Map[Long, Int] = {
        if (exact) {
          spark.conf.set(operators.BruteGuard.MaxRowsKey, "1000000000000")
          spark.conf.unset(operators.BruteGuard.RouteKey)
        } else {
          spark.conf.set(operators.BruteGuard.MaxRowsKey, "0")
          spark.conf.set(operators.BruteGuard.RouteKey, "true")
        }
        try {
          val t0 = System.nanoTime()
          val r = SparkEntry.queries("j_knn_per_vector")(spark, d)
            .select("vec_id", "maj_label").collect()
            .map(r => (r.getLong(0), r.getInt(1))).toMap
          println(f"  ${if (exact) "exact" else "routed"} j_knn_per_vector " +
            f"${(System.nanoTime - t0) / 1e9}%.1f s  ids=${r.size}")
          r
        } finally {
          spark.conf.unset(operators.BruteGuard.MaxRowsKey)
          spark.conf.unset(operators.BruteGuard.RouteKey)
          Caches.release(spark)
        }
      }
      val el = labels(exact = true)
      val rl = labels(exact = false)
      val common = el.keySet intersect rl.keySet
      val agree = common.count(id => el(id) == rl(id))
      println(f"  j_knn_per_vector coverage=${rl.size.toDouble / el.size}%.4f " +
        f"label_agreement=${agree.toDouble / common.size}%.4f " +
        s"(exact=${el.size} routed=${rl.size} agree=$agree)")
    }
    spark.stop()
  }
}
