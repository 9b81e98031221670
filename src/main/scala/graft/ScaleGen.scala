package graft

import org.apache.spark.sql.functions._

/** Synthetic scale-up generator for local scaling experiments:
  * replicates the sf0.1 `documents`/`embeddings` fixtures `factor`×
  * with shifted ids. Each document copy appends a version token, so
  * copies are NEAR-duplicates of their original (jaccard ≈ 0.95) —
  * deliberately the densest possible dup-cluster stress for the
  * dedup cascade (every original anchors a (factor)-clique).
  * Embedding copies keep the vector (exact-duplicate stress for ANN).
  *
  *   sbt "runMain graft.ScaleGen /root/testdata/sf0.1 /tmp/sfx10 10"
  *
  * Measured results live in SCALE.md §"Measured scaling".
  */
object ScaleGen {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("/tmp/sfx10")
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    // Shift multiplier for SECOND-generation scale-ups (r18, third
    // decade): replicating an already-shifted fixture with the base
    // constants would collide key spaces (sf10z orderkeys reach
    // 9·10⁸ + ε, inside a k·10⁸ shift); shiftScale=10 lifts every
    // shift one decade above the first-generation ranges.
    val shiftScale = args.lift(3).map(_.toLong).getOrElse(1L)
    val spark = GraftSession(32, shuffle = Some(32))
    val docs = Tables.documents(spark, src)
    val bigDocs = (0 until factor).map { k =>
      val text =
        if (k == 0) col("text") else concat(col("text"), lit(s" v$k"))
      docs.select((col("doc_id") + lit(k.toLong * 10000000L * shiftScale)).as("doc_id"),
        text.as("text"), col("lang"), col("source"),
        octet_length(text).cast("long").as("n_chars"))
    }.reduce(_ unionByName _)
    bigDocs.repartition(32).write.mode("overwrite")
      .parquet(s"$out/documents.parquet")
    val emb = Tables.embeddings(spark, src)
    val bigEmb = (0 until factor).map { k =>
      emb.select((col("vec_id") + lit(k.toLong * 10000000L * shiftScale)).as("vec_id"),
        col("embedding"), col("label"))
    }.reduce(_ unionByName _)
    bigEmb.repartition(32).write.mode("overwrite")
      .parquet(s"$out/embeddings.parquet")
    // events: user/event ids shift per replica (10× USERS, same
    // per-user history depth — the right stress for per-user state
    // and window ops), raw ts column untouched so the unit sniffing
    // in Tables.events keeps working on the copy
    val ev = spark.read.parquet(s"$src/events.parquet")
    val bigEv = (0 until factor).map { k =>
      ev.withColumn("user_id", col("user_id") + lit(k.toLong * 10000000L * shiftScale))
        .withColumn("event_id", col("event_id") + lit(k.toLong * 1000000000L * shiftScale))
    }.reduce(_ unionByName _)
    bigEv.repartition(32).write.mode("overwrite")
      .parquet(s"$out/events.parquet")
    // lineitem: part/supplier key spaces shift per replica (10× the
    // graph's node AND edge count for the PageRank probe; the
    // supplier node offset is 10¹², far above any shifted partkey)
    val li = spark.read.parquet(s"$src/lineitem.parquet")
    val bigLi = (0 until factor).map { k =>
      li.withColumn("l_orderkey", col("l_orderkey") + lit(k.toLong * 100000000L * shiftScale))
        .withColumn("l_partkey", col("l_partkey") + lit(k.toLong * 10000000L * shiftScale))
        .withColumn("l_suppkey", col("l_suppkey") + lit(k.toLong * 10000000L * shiftScale))
    }.reduce(_ unionByName _)
    bigLi.repartition(32).write.mode("overwrite")
      .parquet(s"$out/lineitem.parquet")
    // Full star schema (r12, VERDICT r11 item 7 — the whole-suite sf1
    // rehearsal needs every table): fact/bridge keys shift per replica
    // CONSISTENTLY with lineitem's shifts above, so every join
    // relationship survives the scale-up (orders⋈lineitem on
    // orderkey + k·10⁸, part on partkey + k·10⁷, supplier on
    // suppkey + k·10⁷, customer⋈orders on custkey + k·10⁶);
    // region/nation are dimension constants and copy through.
    val ords = spark.read.parquet(s"$src/orders.parquet")
    val bigOrds = (0 until factor).map { k =>
      ords.withColumn("o_orderkey", col("o_orderkey") + lit(k.toLong * 100000000L * shiftScale))
        .withColumn("o_custkey", col("o_custkey") + lit(k.toLong * 1000000L * shiftScale))
    }.reduce(_ unionByName _)
    bigOrds.repartition(32).write.mode("overwrite")
      .parquet(s"$out/orders.parquet")
    val cust = spark.read.parquet(s"$src/customer.parquet")
    val bigCust = (0 until factor).map { k =>
      cust.withColumn("c_custkey", col("c_custkey") + lit(k.toLong * 1000000L * shiftScale))
    }.reduce(_ unionByName _)
    bigCust.repartition(32).write.mode("overwrite")
      .parquet(s"$out/customer.parquet")
    val supp = spark.read.parquet(s"$src/supplier.parquet")
    val bigSupp = (0 until factor).map { k =>
      supp.withColumn("s_suppkey", col("s_suppkey") + lit(k.toLong * 10000000L * shiftScale))
    }.reduce(_ unionByName _)
    bigSupp.repartition(32).write.mode("overwrite")
      .parquet(s"$out/supplier.parquet")
    val part = spark.read.parquet(s"$src/part.parquet")
    val bigPart = (0 until factor).map { k =>
      part.withColumn("p_partkey", col("p_partkey") + lit(k.toLong * 10000000L * shiftScale))
    }.reduce(_ unionByName _)
    bigPart.repartition(32).write.mode("overwrite")
      .parquet(s"$out/part.parquet")
    Seq("region", "nation").foreach { t =>
      spark.read.parquet(s"$src/$t.parquet")
        .coalesce(1).write.mode("overwrite").parquet(s"$out/$t.parquet")
    }
    println(s"scalegen wrote ${bigDocs.count()} docs, " +
      s"${bigEmb.count()} embeddings, ${bigEv.count()} events, " +
      s"${bigLi.count()} lineitems, ${bigOrds.count()} orders, " +
      s"${bigCust.count()} customers, ${bigSupp.count()} suppliers, " +
      s"${bigPart.count()} parts to $out")
    spark.stop()
  }
}
