package graft

import org.apache.spark.sql.functions._

/** Near-dup-dominated corpus generator (r14, VERDICT asks 4+5): the
  * REALISTIC duplication shape, complementing ScaleGen's worst-case
  * uniform cliques (exact ×k copies of every doc).
  *
  * Real crawl corpora have Zipf-distributed duplication — most
  * documents unique, a long tail of small near-dup families, a few
  * hot documents with many copies — and the copies are TOKEN-LEVEL
  * PERTURBED, not byte-identical. Blocking recall and the dedup
  * family's disclosed approximations behave differently on that shape
  * than on exact cliques, so the rotating sf1 sample runs on BOTH.
  *
  * Construction (all hash-derived — no driver RNG, no collect; the
  * j_shuffle_epoch convention):
  *   - each source doc spawns D DISTINCT variants: every 5th token
  *     (by token-position hash) is salted with the variant id, so
  *     cross-variant jaccard lands well under dedup thresholds —
  *     variants grow the corpus without growing duplication;
  *   - each variant then spawns c ~ Zipf(α≈2, cap 20) near-dup
  *     copies (P(c ≥ k) = 1/k): copy j perturbs ONE token at a
  *     hash-picked position — jaccard ≈ (n−2)/n against its variant,
  *     near-dup territory;
  *   - embeddings mirror the shape: D distinct variants (component
  *     nudged by a per-variant epsilon), then Zipf EXACT copies (the
  *     ANN dupGroups collapse path sees realistic dup factors).
  *
  * Expected growth per source doc ≈ D · H(20) ≈ D · 3.6.
  *
  *   sbt "runMain graft.ZipfGen /root/testdata/sf0.1 /tmp/sf1z 3"
  *     → ≈ 10× docs/embeddings with Zipf near-dup families
  *   sbt "runMain graft.ZipfGen /root/testdata/sf0.1 /tmp/sf10z 28"
  *     → ≈ 100× (the sf10 stress corpus; relational tables come from
  *       ScaleGen into the same directory)
  *
  * Measured results live in SCALE.md §r14.
  */
object ZipfGen {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("/tmp/sf1z")
    val dVariants = args.lift(2).map(_.toInt).getOrElse(3)
    val spark = GraftSession(32, shuffle = Some(32))

    // ---- documents: D distinct variants × Zipf near-dup copies ----
    val docs = Tables.documents(spark, src)
    val variants = docs
      .withColumn("v", explode(sequence(lit(0), lit(dVariants - 1))))
      // distinct variant: salt every 5th token (position hash) so
      // cross-variant similarity falls far below dedup thresholds
      .withColumn("vtext", when(col("v") === 0, col("text")).otherwise(
        array_join(expr(
          "transform(split(text, ' '), (t, i) -> " +
            "IF(pmod(xxhash64(i), 5) = 0, concat(t, '~', v), t))"), " ")))
      // Zipf copy count: u ∈ (0,1] from a doc+variant hash,
      // c = min(20, floor(1/u)) → P(c ≥ k) = 1/k
      .withColumn("u",
        (pmod(xxhash64(col("doc_id"), col("v")), lit(1000000L)) + 1)
          .cast("double") / lit(1000000.0))
      .withColumn("c", least(lit(20L), floor(lit(1.0) / col("u"))))
    val copies = variants
      .withColumn("j", explode(sequence(lit(0L), col("c") - 1)))
      // near-dup copy: perturb ONE hash-picked token (copy 0 = the
      // variant itself)
      .withColumn("ntok", size(split(col("vtext"), " ")))
      .withColumn("pos",
        pmod(xxhash64(col("doc_id"), col("v"), col("j")),
          greatest(col("ntok"), lit(1)).cast("long")))
      .withColumn("text2", when(col("j") === 0, col("vtext")).otherwise(
        array_join(expr(
          "transform(split(vtext, ' '), (t, i) -> " +
            "IF(i = pos, concat(t, '#', j), t))"), " ")))
      .select(
        ((col("doc_id") * dVariants + col("v")) * 32 + col("j") +
          lit(1000000000L)).as("doc_id"),
        col("text2").as("text"), col("lang"), col("source"))
      .withColumn("n_chars", octet_length(col("text")).cast("long"))
    copies.repartition(32).write.mode("overwrite")
      .parquet(s"$out/documents.parquet")

    // ---- embeddings: D nudged variants × Zipf EXACT copies ----
    val emb = Tables.embeddings(spark, src)
    val embVar = emb
      .withColumn("v", explode(sequence(lit(0), lit(dVariants - 1))))
      .withColumn("vec2", when(col("v") === 0, col("embedding")).otherwise(
        expr("transform(embedding, (x, i) -> CAST(x + " +
          "(pmod(xxhash64(vec_id, v, i), 200) - 100) / 500.0 AS FLOAT))")))
      .withColumn("u",
        (pmod(xxhash64(col("vec_id"), col("v"), lit(7L)), lit(1000000L)) + 1)
          .cast("double") / lit(1000000.0))
      .withColumn("c", least(lit(20L), floor(lit(1.0) / col("u"))))
    val embCopies = embVar
      .withColumn("j", explode(sequence(lit(0L), col("c") - 1)))
      .select(
        ((col("vec_id") * dVariants + col("v")) * 32 + col("j") +
          lit(1000000000L)).as("vec_id"),
        col("vec2").as("embedding"), col("label"))
    embCopies.repartition(32).write.mode("overwrite")
      .parquet(s"$out/embeddings.parquet")

    val nd = spark.read.parquet(s"$out/documents.parquet").count()
    val ne = spark.read.parquet(s"$out/embeddings.parquet").count()
    println(s"zipfgen wrote $nd docs, $ne embeddings to $out " +
      s"(D=$dVariants, expected growth ≈ ${dVariants * 3.6})")
    spark.stop()
  }
}
