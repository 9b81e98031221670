package graft.operators

import graft.{Det, Par, StoredArtifact, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._

/** Remaining training-data text/dedup operators: SimHash near-dup,
  * embedding-cosine near-dup, quality scoring, heuristic language ID,
  * document fingerprinting, and subword-ish token counting.
  *
  * Scale notes: SimHash is the linear-cost near-dup path (one 64-bit
  * signature per doc, candidates via 16-bit band buckets — at 100 TB
  * the band join shuffles doc_id+16 bytes, never text). The langid
  * profile join broadcasts (5 langs × 20 tokens); quality/fingerprint/
  * token-count are narrow projections.
  */
object TextOps {

  /** Overflow-free deterministic 0..99 bucket of a BIGINT id:
    * ((id mod M) * 48271) mod M mod 100 with M = 2^31-1 (Lehmer / Park–
    * Miller multiplier). Identical arithmetic on Spark and DuckDB for
    * any non-negative int64 id. */
  def splitBucket(id: Column): Column =
    pmod(pmod(pmod(id, lit(2147483647L)) * lit(48271L), lit(2147483647L)),
      lit(100L))

  /** DuckDB twin of [[splitBucket]]. */
  def splitBucketSql(idExpr: String): String =
    s"((($idExpr % 2147483647) * 48271) % 2147483647) % 100"

  /** The five doc-shape features of `j_quality_centroid`, each an
    * integer capped at 10⁶ (the cap is what bounds every downstream
    * intermediate by FEATURE RANGE, not corpus size): chars, tokens,
    * punctuation chars, digit chars, uppercase chars. `cls` is the
    * lang='en' weak label. */
  def centroidFeatures(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      when(col("lang") === "en", lit(1L)).otherwise(lit(0L)).as("cls"),
      expr("least(CAST(length(text) AS BIGINT), 1000000L)").as("x1"),
      expr("least(CAST(size(filter(split(text, ' '), t -> t <> '')) " +
        "AS BIGINT), 1000000L)").as("x2"),
      expr("least(CAST(length(text) - length(regexp_replace(text, " +
        "'[.,;:!?]', '')) AS BIGINT), 1000000L)").as("x3"),
      expr("least(CAST(length(text) - length(regexp_replace(text, " +
        "'[0-9]', '')) AS BIGINT), 1000000L)").as("x4"),
      expr("least(CAST(length(text) - length(regexp_replace(text, " +
        "'[A-Z]', '')) AS BIGINT), 1000000L)").as("x5"))

  /** Exact nearest-centroid train+classify over a (doc_id, cls,
    * x1..x5) feature frame: centroids of the `isBase` rows per class,
    * every non-base row assigned to the nearer centroid. Centroid
    * means are quantized to integer MICROS by half-up BIGINT rationals
    * over the div/mod split of S/n (every intermediate ≤ 10⁶·n);
    * squared distances sum as DECIMAL(38,0) (≤ 5×10²⁴ regardless of
    * corpus size). Ties predict class 0. Shared by the registry entry
    * and TextOpsSpec's planted-separation proof. */
  def centroidClassify(feats: DataFrame, isBase: Column): DataFrame =
    centroidAssign(feats.filter(!isBase), centroidTrain(feats.filter(isBase)))

  /** The trainer half: per-class count + feature sums — one
    * partial-aggregable groupBy to a ≤2-row frame. The sums are
    * ADDITIVE, so partial frames over any split of the corpus merge
    * by re-summing — the property [[graft.streaming.CentroidStream]]
    * builds its standing store on. */
  def centroidTrain(feats: DataFrame): DataFrame =
    feats.groupBy("cls").agg(
      count(lit(1)).as("n"),
      sum("x1").as("s1"), sum("x2").as("s2"), sum("x3").as("s3"),
      sum("x4").as("s4"), sum("x5").as("s5"))

  /** The scorer half: assign every `feats` row to the nearer of the
    * two class centroids in `cent` (the [[centroidTrain]] shape).
    * Shared verbatim by the batch entry and the streaming store read,
    * so the two paths cannot drift on arithmetic. */
  def centroidAssign(feats: DataFrame, cent: DataFrame): DataFrame = {
    // half-up micros mean via div/mod split: 1e6·q + half_up(1e6·r/n)
    val cq = cent.selectExpr("cls" +: (1 to 5).map(j =>
      s"1000000L * (s$j div n) + (2000000L * (s$j % n) + n) div (2L * n)" +
        s" AS m$j"): _*)
    val cells = for (g <- 0 to 1; j <- 1 to 5)
      yield max(when(col("cls") === g, col(s"m$j"))).as(s"c$g$j")
    val cw = cq.agg(cells.head, cells.tail: _*)
    def dist(g: Int): Column = (1 to 5).map { j =>
      val diff = (col(s"x$j") * lit(1000000L) - col(s"c$g$j"))
        .cast(DecimalType(38, 0))
      diff * diff
    }.reduce(_ + _)
    feats.crossJoin(broadcast(cw))
      .withColumn("pred", when(dist(1) < dist(0), lit(1L)).otherwise(lit(0L)))
      .select(col("doc_id"), col("cls").as("actual"), col("pred"),
        when(col("pred") === col("cls"), lit(1L)).otherwise(lit(0L))
          .as("correct"))
  }

  /** Collapse consecutive duplicate tokens of `text` per row — see
    * the j_text_scrub_runs entry. Expects (doc_id, text). The
    * previous-token probe is a GUARDED conditional (if's lazy-branch
    * semantics are contractual, unlike boolean operand order):
    * element_at(toks, i) with the lambda's 0-based i ≥ 1 is the
    * 1-based previous token, and i = 0 never reaches it — r11
    * code-review caught that the earlier try_element_at + OR form
    * only survived index 0 via short-circuit, which Spark does not
    * guarantee (try_element_at throws on index 0; it is only null
    * for OUT-OF-RANGE indices). */
  private[graft] def scrubRuns(docs: DataFrame): DataFrame =
    docs
      .withColumn("toks", split(col("text"), " "))
      .withColumn("kept", expr(
        "filter(toks, (t, i) -> if(i = 0, true, t != element_at(toks, i)))"))
      .select(col("doc_id"),
        array_join(col("kept"), " ").as("scrubbed"),
        (size(col("toks")) - size(col("kept"))).cast(LongType)
          .as("n_removed"))

  private def toks: Column = split(col("text"), " ")

  private val stopwords = Seq("the", "a", "of", "and", "to", "in")

  /** Quality-score numerator (shared by j_text_quality and the corpus
    * pipeline's quality gate): 4·min(n_chars,500)·n_tok +
    * 1500·(n_tok−n_stop) + 1500·n_distinct. The exact basis-point
    * score is `(num * 10000) div (5000 * n_tok)`. */
  private[operators] def qualityNum: Column = {
    val nTok = size(toks).cast(LongType)
    val nStop = size(filter(toks, t => t.isin(stopwords: _*))).cast(LongType)
    val nDist = size(array_distinct(toks)).cast(LongType)
    lit(4L) * least(col("n_chars"), lit(500L)) * nTok +
      lit(1500L) * (nTok - nStop) + lit(1500L) * nDist
  }

  /** Heuristic language-ID predictions for `docs` (profiles learned on
    * `docs` itself): per-language top-20 token lists, vote, argmax.
    * Returns (doc_id, lang, pred_lang, votes); docs with no profile
    * token at all have no prediction. The profile side is tiny
    * (5 langs × 20 tokens) → broadcast; cost is one explode + one
    * broadcast join + two bounded windows at any corpus size. */
  private[operators] def langPredictions(docs: DataFrame): DataFrame = {
    // r20 (guide §5): ONE persisted token explode feeds both the
    // profile derivation and the voting pass — the composed
    // votesAgainst(langProfile(docs), docs) re-tokenized the corpus
    // twice (the two explodes are the op's dominant cost; profiles and
    // votes are KB-sized). Values identical: both passes see exactly
    // the rows their standalone derivations produced. The standalone
    // helpers stay for the stored-profile pipeline (profile built from
    // the base corpus once, deltas scored via votesAgainst).
    val tok = graft.Caches.persisted(
      docs.select(col("doc_id"), col("lang"), explode(toks).as("token")))
    val profile = tok
      .groupBy("lang", "token").agg(count(lit(1)).as("cnt"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("lang").orderBy(desc("cnt"), asc("token"))))
      .filter(col("rk") <= 20)
      .select(col("lang").as("p_lang"), col("token"))
    tok.join(broadcast(profile), "token")
      .groupBy("doc_id", "lang", "p_lang")
      .agg(count(lit(1)).as("votes"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("doc_id").orderBy(desc("votes"), asc("p_lang"))))
      .filter(col("rk") === 1)
      .select(col("doc_id"), col("lang"), col("p_lang").as("pred_lang"),
        col("votes"))
  }

  /** The per-language top-20 token profile of a corpus — tiny
    * (langs × 20 rows), broadcastable, and STORABLE: the incremental
    * pipeline persists the standing corpus's profile once and scores
    * every delta batch against the table. */
  private[operators] def langProfile(profileDocs: DataFrame): DataFrame =
    profileDocs
      .select(col("lang"), explode(toks).as("token"))
      .groupBy("lang", "token")
      .agg(count(lit(1)).as("cnt"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("lang").orderBy(desc("cnt"), asc("token"))))
      .filter(col("rk") <= 20)
      .select(col("lang").as("p_lang"), col("token"))

  /** Vote `docs` against an already-built profile and keep the argmax
    * prediction per doc (docs with no profile token get none). */
  private[operators] def votesAgainst(profile: DataFrame,
                                      docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("lang"), explode(toks).as("token"))
      .join(broadcast(profile), "token")
      .groupBy("doc_id", "lang", "p_lang")
      .agg(count(lit(1)).as("votes"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("doc_id").orderBy(desc("votes"), asc("p_lang"))))
      .filter(col("rk") === 1)
      .select(col("doc_id"), col("lang"), col("p_lang").as("pred_lang"),
        col("votes"))

  /** All character trigrams of `text` as an array — a narrow in-scan
    * projection (no shuffle). Callers MUST pre-filter
    * `length(text) >= 3`: Spark's `sequence(1, stop)` infers step −1
    * when stop < 1 and would emit descending positions instead of an
    * empty array. */
  private def charTrigrams: Column =
    transform(sequence(lit(1), length(col("text")) - 2),
      i => col("text").substr(i, lit(3)))

  /** Cavnar–Trenkle rank profile: per language, the top-`k` character
    * trigrams of the training split ranked 1..k by (count desc,
    * trigram asc). Tiny (langs × k rows) → broadcastable, and STORABLE
    * like the token-vote profile: train once on the standing corpus,
    * score every delta batch against the table. */
  private[graft] def chargramProfile(train: DataFrame, k: Int): DataFrame =
    train.filter(length(col("text")) >= 3)
      .select(col("lang"), explode(charTrigrams).as("tg"))
      .groupBy("lang", "tg").agg(count(lit(1)).as("cnt"))
      .withColumn("prk", row_number().over(
        Window.partitionBy("lang").orderBy(desc("cnt"), asc("tg"))))
      .filter(col("prk") <= k)
      .select(col("lang").as("p_lang"), col("tg"), col("prk"))

  /** Classify each `score` doc by minimum out-of-place distance
    * against `profile` (built with the same `k`): the doc's own top-20
    * trigram ranks vs each language's profile ranks, a missing trigram
    * costing the max penalty `k`; prediction = argmin distance with a
    * deterministic (dist, p_lang) tie-break. Cost shape: the trigram
    * explode is corpus-proportional but narrow; the doc-profile
    * aggregation shuffles (doc_id, trigram, cnt) — bytes comparable to
    * the text itself; the scoring joins are doc-top-20 × langs rows
    * against two BROADCAST sides, so the corpus crosses exactly one
    * exchange regardless of scale. */
  private[graft] def chargramPredictions(profile: DataFrame,
                                             score: DataFrame,
                                             k: Int): DataFrame = {
    val dprof = score.filter(length(col("text")) >= 3)
      .select(col("doc_id"), col("lang"), explode(charTrigrams).as("tg"))
      .groupBy("doc_id", "lang", "tg").agg(count(lit(1)).as("cnt"))
      .withColumn("drk", row_number().over(
        Window.partitionBy("doc_id").orderBy(desc("cnt"), asc("tg"))))
      .filter(col("drk") <= 20)
      .select("doc_id", "lang", "tg", "drk")
    val langs = profile.select(col("p_lang")).distinct()
    dprof.crossJoin(broadcast(langs))
      .join(broadcast(profile), Seq("p_lang", "tg"), "left")
      .groupBy("doc_id", "lang", "p_lang")
      .agg(sum(coalesce(abs(col("drk") - col("prk")), lit(k)))
        .cast(LongType).as("dist"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("doc_id").orderBy(asc("dist"), asc("p_lang"))))
      .filter(col("rk") === 1)
      .select(col("doc_id"), col("lang"), col("p_lang").as("pred_lang"),
        col("dist"))
  }

  private[graft] def bpeTable(s: SparkSession, d: String): String =
    StoredArtifact.name(s, d, "bpe", Seq("documents"))

  /** Once-per-corpus BPE merge-table training for
    * `j_text_bpe_tokenize`: one distributed word-frequency aggregation,
    * then a bounded driver-side merge loop over the top-512 words
    * ([[graft.functions.Bpe.train]] — the kmeansCentroids shape: the
    * corpus-sized work is the aggregation; the iteration is driver
    * flops). Top-V selection is deterministic (freq desc, word asc), so
    * the learned table is identical across runs and partitionings.
    *
    * The learned table is a STORED artifact
    * (`graft_bpe_<slug>(rank, lhs, rhs)`): a tokenizer is trained once
    * per corpus and applied by every batch and session after that — a
    * later session finds the table and skips the train
    * ([[StoredArtifact.Catalog]]). The resolved value is the encoded
    * merge string, so a repeat call runs no Spark job. */
  private[graft] def trainedBpeMerges(s: SparkSession, d: String): String =
    StoredArtifact.resolve(s, d, "bpe", Seq("documents"))(
      build = { table =>
        val wordFreq = Tables.documents(s, d)
          .select(explode(filter(split(lower(col("text")),
            graft.functions.Bpe.SplitRegex), w => length(w) > 0)).as("word"))
          .groupBy("word").agg(count(lit(1)).as("freq"))
          .orderBy(desc("freq"), asc("word")).limit(512)
          .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
        val merges = graft.functions.Bpe.train(wordFreq, nMerges = 200)
        import s.implicits._
        merges.zipWithIndex
          .map { case ((a, b), i) => (i, a, b) }
          .toDF("rank", "lhs", "rhs")
          .write.format("parquet").saveAsTable(table)
        graft.functions.Bpe.encodeMerges(merges)
      },
      reuse = table => graft.functions.Bpe.encodeMerges(
        s.table(table).orderBy("rank").collect()
          .map(r => (r.getString(1), r.getString(2))).toSeq))

  /** STORED Cavnar–Trenkle rank profile (r19, VERDICT r18 item 3): the
    * langs×40-row chargram profile is corpus-snapshot metadata exactly
    * like the bigram LM and the BPE merge table, and the sf100z decade
    * measured the per-invocation train (one corpus-proportional trigram
    * explode + count) dominating the 190 s cold floor. Stored, the
    * steady-state entry broadcasts a langs×40-row catalog leaf and
    * only the SCORE split crosses an exchange. Values are the exact
    * [[chargramProfile]] output over the standing 80% split, so the
    * oracle hash cannot move; a later session finds the table and runs
    * ZERO training jobs ([[StoredArtifact.Catalog]];
    * ChargramArtifactSpec pins stored==direct and the zero-job
    * re-entry). */
  private[graft] def chargramProfileTable(s: SparkSession, d: String): String =
    StoredArtifact(s, d, "chargram", Seq("documents")) { table =>
      val docs = graft.Par.spread(
        Tables.documents(s, d).select("doc_id", "lang", "text"))
      chargramProfile(docs.filter(splitBucket(col("doc_id")) < 80), 40)
        .write.format("parquet").saveAsTable(table)
    }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Real BPE tokenization (VERDICT r5 ask #5, replacing the
    // ceil(len/4) proxy of j_text_bpe_count): a 200-merge table learned
    // driver-side from the corpus's aggregated word frequencies, applied
    // per doc by the native graft_bpe_count expression — one narrow
    // projection, the merge table riding the plan as a literal.
    // ORACLED since r11 — the LAST soft j_* row: the merge-training
    // loop twins as a recursive CTE (pair explode → windowed weighted
    // counts → best-pair pick with the same (-count, a, b) tie-break →
    // fold-merge, which is provably ≡ the left-to-right non-overlap
    // pass since a merged symbol a+b can never equal a), and the apply
    // side replays the merge list per DISTINCT word via nested
    // list_reduce. Verified merge-sequence-identical (89/89 on the
    // fixture) before the hash gate. BpeSpec still gates determinism,
    // round-trip identity, and compression.
    "j_text_bpe_tokenize" -> { (s, d) =>
      graft.functions.VectorExprs.register(s)
      val mstr = trainedBpeMerges(s, d)
      val words = filter(split(lower(col("text")), graft.functions.Bpe.SplitRegex),
        w => length(w) > 0)
      Tables.documents(s, d)
        .select(col("doc_id"),
          size(words).as("n_words"),
          length(regexp_replace(lower(col("text")),
            graft.functions.Bpe.SplitRegex, "")).cast(LongType).as("n_chars_an"),
          expr(s"graft_bpe_count(text, '$mstr')").as("n_tokens"))
        .orderBy("doc_id")
    },

    // SimHash-64 near-dup candidates: ±1 vote per bit per distinct
    // token hash, band join on 4×16-bit chunks, exact hamming filter.
    // ORACLED since r8 (VERDICT r7 ask #7): token hashes come from the
    // portable graft_polyhash (31-multiplier polynomial + Lehmer step —
    // arithmetic DuckDB reproduces verbatim via list_reduce) instead of
    // xxhash64, so the whole band pipeline hash-matches a SQL twin.
    // Empty tokens are excluded on both engines (list_reduce cannot
    // fold an empty list). TextOpsSpec still plants dups.
    "j_dedup_simhash" -> { (s, d) =>
      graft.functions.VectorExprs.register(s)
      val tok = graft.Par.spread(Tables.documents(s, d))
        .select(col("doc_id"), explode(array_distinct(toks)).as("token"))
        .filter(col("token") =!= "")
        .withColumn("h", expr("graft_polyhash(token)"))
      // native SimHash64Agg: one 64-int aggregation buffer instead of
      // 64 separate sum aggregates through the shuffle.
      // r20 (guide §5): persist the signatures — the band self-join
      // consumed the aggregate subtree TWICE (the r19 plan shows two
      // full scan→explode→polyhash→simhash chains, no ReusedExchange),
      // so the whole derivation ran once per join side. One 16-byte-row
      // materialization now feeds both sides; released by the
      // harness's Caches.release like every operator persist.
      val sigs = graft.Caches.persisted(tok.groupBy("doc_id")
        .agg(expr("graft_simhash(h)").as("sig")))
      val bands = sigs.select(col("doc_id"), col("sig"),
        explode(array((0 until 4).map(i =>
          struct(lit(i).as("band"),
            shiftright(col("sig"), i * 16).bitwiseAND(0xFFFF).as("bv"))): _*))
          .as("b"))
        .select(col("doc_id"), col("sig"), col("b.band"), col("b.bv"))
      bands.as("x").join(bands.as("y"),
          col("x.band") === col("y.band") && col("x.bv") === col("y.bv") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
          bit_count(col("x.sig").bitwiseXOR(col("y.sig"))).as("hamming"))
        .distinct()
        // ≤3 differing bits over 4 bands: pigeonhole guarantees one
        // clean band, so the band join finds EVERY such pair (exact,
        // not approximate, at this cutoff)
        .filter(col("hamming") <= 3)
        .orderBy("doc_a", "doc_b")
    },

    // Embedding-cosine near-dup pairs (threshold 0.4 on these fixtures).
    "j_dedup_embed_cosine" -> { (s, d) =>
      graft.functions.VectorExprs.register(s)
      // fail-fast size gate (r16, VERDICT r15 item 1): declared O(n²)
      // brute baseline — the last unguarded one. Above the cap the
      // default is refusal naming the sub-quadratic sibling; with
      // spark.graft.brute.route=true the SIBLING's result is returned
      // instead (same (vec_a, vec_b, cos) schema, exact soundness,
      // recall-gated — the opt-in degraded mode, never a silent
      // substitution). Footer row count, no job.
      BruteGuard.routePath(s, s"$d/embeddings.parquet",
        "j_dedup_embed_cosine", "j_dedup_embed_ann") {
        // spread the raw scan FIRST (single-row-group input = one
        // task), then normalize: norm hoisted out of the lambda so
        // graft_dot runs once per row, not once per element inside
        // the interpreted HOF
        val u = graft.Par.spread(Tables.embeddings(s, d))
          .select(col("vec_id"),
            col("embedding").cast(ArrayType(DoubleType)).as("v"))
          .withColumn("nrm", sqrt(expr("graft_dot(v, v)")))
          .select(col("vec_id"),
            expr("graft_vdiv(v, nrm)").as("u"))
        val a = u.select(col("vec_id").as("vec_a"), col("u").as("ua"))
        val b = u.select(col("vec_id").as("vec_b"), col("u").as("ub"))
        a.join(broadcast(b), col("vec_a") < col("vec_b"))
          .withColumn("cos", expr("graft_dot(ua, ub)"))
          .filter(col("cos") >= 0.4)
          .select(col("vec_a"), col("vec_b"),
            Det.r4(col("cos")).as("cos"))
          .orderBy("vec_a", "vec_b")
      }(AnnOps.queries("j_dedup_embed_ann")(s, d))
    },

    // Quality scoring: 0.4·min(len/500,1) + 0.3·(1-stopword ratio) +
    // 0.3·distinct ratio — algebraically restructured to one integer
    // numerator and a single double division so both engines produce
    // the bit-identical double (the 3-term float sum landed exactly on
    // 4-decimal rounding boundaries).
    "j_text_quality" -> { (s, d) =>
      val nTok = size(toks).cast(LongType)
      val num = qualityNum
      val score = num.cast(DoubleType) / (lit(5000L) * nTok)
      // quality emitted as an exact basis-point integer (num*10000 div
      // den): Spark's round(double, n) rounds the shortest decimal repr
      // while DuckDB rounds the binary value — rational scores land
      // exactly on .xxxx5 boundaries and flip between engines
      Tables.documents(s, d)
        .withColumn("num", num)
        .withColumn("q4",
          expr("(num * 10000) div (5000 * size(split(text, ' ')))"))
        .select(col("doc_id"), col("q4"),
          when(score >= 0.8, "high").when(score >= 0.6, "mid")
            .otherwise("low").as("tier"))
        .orderBy("doc_id")
    },

    // Heuristic language ID: vote against per-language top-20 token
    // profiles learned from the corpus itself, then argmax.
    "j_text_langid" -> { (s, d) =>
      langPredictions(graft.Par.spread(Tables.documents(s, d)))
        .withColumn("correct", col("lang") === col("pred_lang"))
        .orderBy("doc_id")
    },

    // Positional polynomial fingerprint over the raw characters
    // (rolling-hash stand-in expressible identically in both engines).
    "j_text_fingerprint" -> { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          pmod(aggregate(
            zip_with(split(col("text"), ""),
              sequence(lit(1), length(col("text"))),
              (c, i) => ascii(c).cast(LongType) * i),
            lit(0L), (acc, x) => acc + x), lit(2147483647L)).as("fp"))
        .orderBy("doc_id")
    },

    // Deterministic train/val/test split: Lehmer-style hash bucket of
    // the stable id — reproducible across runs, engines, and
    // repartitioning (never rand()/TABLESAMPLE, which are
    // partition-order dependent). 80/10/10 by bucket. The pre-mod keeps
    // every intermediate ≤ (2^31-2)*48271 ≈ 1.04e14, overflow-free in
    // int64 on BOTH engines (a raw doc_id * K wraps silently in Spark
    // but errors in DuckDB for ids above ~3.5e9).
    "j_sample_split" -> { (s, d) =>
      val bucket = TextOps.splitBucket(col("doc_id"))
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), bucket.as("bucket"),
          when(bucket < 80, "train").when(bucket < 90, "val")
            .otherwise("test").as("split"))
        .orderBy("doc_id")
    },

    // Deterministic fixed-SIZE uniform sample (r12): exactly k docs,
    // chosen as the k smallest Lehmer-hashed ids — the bottom-k row
    // sample idea (KmvSketch.scala) expressed as a QUERY. The split
    // family answers "which fraction"; this answers the other
    // everyday ask, "give me exactly 500 uniform docs". Spark plans
    // the orderBy+limit as TakeOrderedAndProject — per-partition
    // bounded top-k then a k-row merge on the driver side of the
    // exchange, NO global sort — which is exactly the distributed
    // reservoir shape that holds at 100 TB. Mergeable/stable: the
    // hash order makes the sample a pure set function, so growing the
    // corpus only ever evicts by hash rank (ReservoirSpec pins
    // subset-stability), and the same k docs come back under any
    // partitioning.
    "j_sample_reservoir" -> { (s, d) =>
      Tables.documents(s, d)
        .withColumn("hv", expr(Sketches.lehmerHash("doc_id")))
        .orderBy("hv", "doc_id")
        .limit(500)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .orderBy("doc_id")
    },

    // Split-balance audit: per (split, lang) counts — the check that a
    // deterministic split didn't skew a stratum.
    "j_sample_split_audit" -> { (s, d) =>
      val bucket = TextOps.splitBucket(col("doc_id"))
      Tables.documents(s, d)
        .select(col("lang"),
          when(bucket < 80, "train").when(bucket < 90, "val")
            .otherwise("test").as("split"))
        .groupBy("split", "lang").agg(count(lit(1)).as("n"))
        .orderBy("split", "lang")
    },

    // Subword-ish token counting: regex word split + ceil(len/4)
    // subword estimate per word (BPE-rate proxy).
    "j_text_bpe_count" -> { (s, d) =>
      val words = filter(split(col("text"), "[^a-z0-9]+"), w => length(w) > 0)
      Tables.documents(s, d)
        .select(col("doc_id"),
          size(words).as("n_words"),
          aggregate(words, lit(0L),
            (acc, w) => acc + ceil(length(w) / lit(4.0)).cast(LongType))
            .as("n_subtokens"))
        .orderBy("doc_id")
    },

    // Benchmark decontamination scoring: per-doc overlap of 3-token
    // shingles against a held-out "benchmark" shingle set (stand-in:
    // docs 0–4 — a real pipeline registers its eval suites here). The
    // benchmark set is tiny → broadcast; the per-doc pass is one
    // narrow explode + one broadcast semi-join, so cost is linear in
    // corpus size at 100 TB. Score in basis points via integer
    // division — exact cross-engine arithmetic, no double rounding.
    "j_text_contamination" -> { (s, d) =>
      graft.functions.VectorExprs.register(s)
      val ex = Par.spread(Tables.documents(s, d))
        .select(col("doc_id"), explode(expr("graft_shingles(text, 3)"))
          .as("shingle"))
      // bench set = the 5 LOWEST doc_ids via a scalar-subquery cutoff
      // (r14: rank-based, portable to any id space)
      val cut = org.apache.spark.sql.GraftPlanBridge.scalarSubquery(
        Tables.documents(s, d).orderBy("doc_id").limit(5)
          .agg(max(col("doc_id"))))
      val bench = ex.filter(col("doc_id") <= cut)
        .select(col("shingle")).distinct()
      val sizes = ex.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
      val hits = ex.filter(col("doc_id") > cut)
        .join(broadcast(bench), "shingle")
        .groupBy("doc_id").agg(count(lit(1)).as("n_hit"))
      sizes.filter(col("doc_id") > cut)
        .join(hits, Seq("doc_id"), "left")
        .withColumn("n_hit", coalesce(col("n_hit"), lit(0L)))
        .withColumn("contam_bp", expr("(n_hit * 10000) div n_sh"))
        .select("doc_id", "n_sh", "n_hit", "contam_bp")
        .orderBy("doc_id")
    },

    // Source-mix planning: per-source document counts, the
    // downsample-to-min keep rate (basis points, exact integer
    // arithmetic), and a temperature-style mix weight
    // sqrt(n_source / n_total) (irrational → safe under round-4).
    // This is the "how do I weight my corpora" pass every
    // training-data pipeline runs before sampling; composes with
    // j_sample_stratified for the actual deterministic sample.
    "j_sample_mix_weights" -> { (s, d) =>
      val bySource = Tables.documents(s, d)
        .groupBy("source").agg(count(lit(1)).as("n_docs"))
      val totals = bySource.agg(
        sum("n_docs").cast(LongType).as("n_total"),
        min("n_docs").cast(LongType).as("n_min"))
      bySource.crossJoin(broadcast(totals))
        .withColumn("keep_rate_bp", expr("(n_min * 10000) div n_docs"))
        .withColumn("mix_weight",
          Det.r4(sqrt(col("n_docs").cast("double") / col("n_total"))))
        .select("source", "n_docs", "keep_rate_bp", "mix_weight")
        .orderBy("source")
    },

    // Token-budget corpus selection (§2.W, r19): training-data
    // mixtures are specified in TOKENS, not documents — "x billion
    // tokens of source A" — and nothing in the sampling family cut on
    // that axis (mix_weights plans per-DOC rates; pack_sequences
    // consumes docs already selected). Per source, keep the doc_id-
    // ordered PREFIX of documents whose running token total stays
    // within the per-source budget (`spark.graft.sample.tokenBudget`,
    // default 5000 — the DuckDB twin pins the default, the
    // j_ann_lsh_topk harness convention). Prefix semantics — a doc
    // crossing the boundary is dropped and later smaller docs are NOT
    // back-filled — keep the selection deterministic and
    // order-independent. Integer token counts and integer cumsums →
    // hash-exact twin. Scale shape: one per-source ordered cumsum
    // window — the e_window_running class; a whale source takes that
    // family's quantile-bucket routing cure, and the narrow
    // (doc_id, source, n_tok) projection is all that shuffles.
    "j_sample_token_budget" -> { (s, d) =>
      val budget = s.conf.getOption("spark.graft.sample.tokenBudget")
        .map(_.toLong).getOrElse(5000L)
      if (s.conf.getOption(graft.OracleKit.HarnessKey).contains("true"))
        require(budget == 5000L,
          "the j_sample_token_budget oracle twin pins budget=5000; " +
            "unset spark.graft.sample.tokenBudget under the oracle " +
            s"harness (got $budget)")
      val base = Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          size(toks).cast(LongType).as("n_tok"))
      val w = Window.partitionBy("source").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      // explicit projection, not withColumn: the left_anti USING join
      // below reorders columns (join key first), and the union/output
      // contract is positional for downstream collectors
      val plain = (df: DataFrame) =>
        df.select(col("doc_id"), col("source"), col("n_tok"),
          sum(col("n_tok")).over(w).as("cum_tok"))
      // r19 whale routing (the Windows-family §r17.3 cure, applied at
      // birth): the per-source cumsum's natural parallelism is the
      // SOURCE COUNT — at corpus scale every source is a whale by
      // construction, so the single-window form would put each
      // source's prefix sum on one task. Prefix sums decompose with
      // no edge fix-up: bucket rows by doc_id quantiles, local
      // integer cumsum per (source, bucket), broadcast per-source
      // bucket-prefix offsets (≤ 32 rows per source); long addition
      // is associative and exact, so offset + local cumsum IS the
      // global cum_tok. Fixture sources sit under the whale threshold
      // → plain single-window plan, oracle untouched; PlanSpec-style
      // forced routing is pinned value-identical in TextOpsSpec.
      val whales = Windows.whaleKeys(base, "source", col("doc_id"))
      val cum =
        if (whales.isEmpty) plain(base)
        else {
          val big = base.join(broadcast(whales), Seq("source"), "left_semi")
            .withColumn("dd", col("doc_id").cast(DoubleType))
          val bucketCol = Windows.rankBucket(big, "dd", 32,
            descending = false)
          val wLoc = Window.partitionBy("source", "b").orderBy("doc_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
          val loc = graft.Caches.persisted(big.withColumn("b", bucketCol)
            .select(col("doc_id"), col("source"), col("b"), col("n_tok"),
              sum(col("n_tok")).over(wLoc).as("lcum")))
          val wOff = Window.partitionBy("source").orderBy("b")
            .rowsBetween(Window.unboundedPreceding, -1)
          val off = loc.groupBy("source", "b")
            .agg(sum(col("n_tok")).as("c"))
            .select(col("source"), col("b"),
              coalesce(sum("c").over(wOff), lit(0L)).as("boff"))
          val banded = loc.join(broadcast(off), Seq("source", "b"))
            .select(col("doc_id"), col("source"), col("n_tok"),
              (col("boff") + col("lcum")).as("cum_tok"))
          plain(base.join(broadcast(whales), Seq("source"), "left_anti"))
            .unionByName(banded)
        }
      cum.filter(col("cum_tok") <= budget).orderBy("doc_id")
    },

    // Repetition scoring (the Gopher-style quality signal): per doc,
    // the fraction of repeated word 2-grams (basis points, exact
    // integer arithmetic) and the highest single-2-gram count.
    // Deliberately SHUFFLE-FREE: repetition is doc-local, so both
    // numbers come from array HOFs inside the scan projection — no
    // explode, no (doc, gram) exchange; at 100 TB this rides the same
    // map-side pass as the other quality signals. Docs need ≥ 2 words
    // (all fixture docs qualify; the filter keeps the op total).
    "j_text_repetition" -> { (s, d) =>
      val words = split(col("text"), " ")
      val grams = expr(
        """transform(sequence(1, size(split(text, ' ')) - 1),
          |  i -> concat(element_at(split(text, ' '), i), ' ',
          |              element_at(split(text, ' '), i + 1)))""".stripMargin)
      Tables.documents(s, d)
        .filter(size(words) >= 2)
        .withColumn("g", grams)
        .withColumn("n2", size(col("g")).cast(LongType))
        .withColumn("nd", size(array_distinct(col("g"))).cast(LongType))
        .select(col("doc_id"), col("n2"), col("nd"),
          expr("((n2 - nd) * 10000) div n2").as("rep_bp"),
          expr("""array_max(transform(array_distinct(g),
            |  x -> size(filter(g, y -> y = x))))""".stripMargin)
            .cast(LongType).as("max_gram_n"))
        .orderBy("doc_id")
    },

    // Text canonicalization — the pre-dedup step (graft_normtext:
    // NFC → casefold → digit-mask → punct/whitespace collapse as ONE
    // codegen'd pass; the oracle is the equivalent DuckDB
    // nfc_normalize/lower/regexp_replace chain). Narrow projection, no
    // shuffle; at 100 TB this runs map-side inside the scan stage.
    // The dedup family consumes it via spark.graft.text.normalize=true
    // (LlmOps.dedupDocs); TextNormSpec plants a mixed-case/punctuation
    // near-dup that raw shingling misses and normalized catches.
    "j_text_normalize" -> { (s, d) =>
      graft.functions.VectorExprs.register(s)
      Tables.documents(s, d)
        .select(col("doc_id"), col("text"),
          expr("graft_normtext(text)").as("norm_text"))
        .select(col("doc_id"), col("norm_text"),
          length(col("norm_text")).cast(LongType).as("norm_len"),
          (col("norm_text") =!= col("text")).as("changed"))
        .orderBy("doc_id")
    },

    // Consecutive-token-run scrub (r11): collapse runs of the SAME
    // token to one occurrence ("buy buy buy now" → "buy now") — the
    // intra-document cleanup next to j_text_repetition's REPORT of
    // repeatedness (that entry measures, this one repairs; the same
    // split j_dedup_lines/_apply makes corpus-wide). Doc-local in-scan
    // HOF work, zero corpus shuffles. The previous-token probe is a
    // guarded if() on the Spark side (see scrubRuns); the DuckDB twin
    // keeps its three-valued-OR form, which IS order-safe there
    // because toks[0] genuinely returns NULL.
    "j_text_scrub_runs" -> { (s, d) =>
      scrubRuns(Tables.documents(s, d)).orderBy("doc_id")
    },

    // Heavy hitters over the token stream (§2.Q) — the two-pass
    // sketch-then-verify production shape. Pass 1: the native
    // Misra–Gries aggregate (graft_mg, capacity 255) proposes ≤ 255
    // candidates; its exchange carries ≤ 255 (token, count) pairs per
    // map task REGARDLESS of vocabulary size — the full groupBy this
    // replaces shuffles the whole vocabulary. Pass 2: exact counts for
    // the candidate tokens only (broadcast semi-join, partial-agg'd),
    // thresholded at > n div 256. MG's mergeable guarantee (every
    // token with frequency > n/256 survives the summary) makes the
    // output deterministic and ORACLED against the plain exact HAVING
    // query — a hash-match proves no heavy hitter was lost.
    "j_text_heavy_hitters" -> { (s, d) =>
      graft.functions.VectorExprs.register(s)
      val tok = graft.Caches.persisted(
        Par.spread(Tables.documents(s, d))
          .select(explode(split(col("text"), " ")).as("token")))
      val cand = tok.agg(expr("graft_mg(token, 255)").as("sk"))
        .select(explode(col("sk")).as("e"))
        .select(col("e.token").as("token"))
      val total = tok.agg(count(lit(1)).as("n"))
      tok.join(broadcast(cand), "token")
        .groupBy("token").agg(count(lit(1)).as("cnt"))
        .crossJoin(broadcast(total))
        .filter(col("cnt") > expr("n div 256"))
        .select(col("token"), col("cnt"))
        .orderBy(desc("cnt"), asc("token"))
    },

    // Deterministic WEIGHTED sampling (§2.Q) — Efraimidis–Spirakis
    // A-Res with the randomness replaced by the same Lehmer-hash
    // uniform the split family uses: u = lehmer(doc_id)/M ∈ [0,1),
    // key = u^(1/w) with w = n_chars, keep the top-100 keys. Longer
    // docs get proportionally higher inclusion probability — the
    // "sample by quality/length weight" pass of a training-data
    // pipeline — and the whole draw is reproducible and ORACLED
    // (identical arithmetic in DuckDB). Selection is a distributed
    // TakeOrderedAndProject (top-k by key), never a global sort; at
    // 100 TB this is one map pass + a k-row reduce.
    // Temperature-flattened source mixing (the multilingual/LLM
    // pretraining sampler): per-source quotas ∝ n_docs^(1/2) — the
    // T=2 flattening exponent — normalized to a half-corpus target,
    // then the DETERMINISTIC selection (first n_keep docs by doc_id
    // per source), not just the weight table (j_sample_mix_weights
    // reports; this one actually samples). Low-resource sources keep
    // a larger fraction than their proportional share — the spec pins
    // that flattening property. Cross-engine determinism: sqrt is
    // IEEE-correctly-rounded on both engines, the weights are rounded
    // to 4 decimals before the decimal-exact sum (Det.dsum), and the
    // quota floor is integer. Scale shape: quotas are a 20-row
    // broadcast; the selection is one row_number window partitioned
    // by source.
    "j_sample_temperature" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val bySource = docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
      val sq = bySource.withColumn("sw",
        Det.r4(sqrt(col("n_docs").cast(DoubleType))))
      val tot = sq.agg(Det.dsum(col("sw")).as("sw_sum"),
        expr("sum(n_docs) div 2").cast(LongType).as("n_target"))
      val quota = sq.crossJoin(broadcast(tot))
        .withColumn("n_keep",
          floor(col("n_target") * col("sw") / col("sw_sum")).cast(LongType))
        .select("source", "n_keep")
      docs.join(broadcast(quota), "source")
        .withColumn("rk", row_number().over(
          Window.partitionBy("source").orderBy("doc_id")))
        .filter(col("rk") <= col("n_keep"))
        .select("doc_id", "source", "n_keep")
        .orderBy("doc_id")
    },

    "j_sample_weighted" -> { (s, d) =>
      val M = 2147483647L
      val u = (pmod(pmod(col("doc_id"), lit(M)) * lit(48271L), lit(M)))
        .cast(DoubleType) / lit(M.toDouble)
      val sel = Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars"),
          pow(u, lit(1.0) / col("n_chars").cast(DoubleType)).as("key"))
        .orderBy(desc("key"), asc("doc_id"))
        .limit(100)
      sel
        .withColumn("rn", row_number().over(
          Window.orderBy(desc("key"), asc("doc_id"))).cast("int"))
        .select(col("doc_id"), col("n_chars"), Det.r4(col("key")).as("key"),
          col("rn"))
        .orderBy("rn")
    },

    // Training-sequence packing (§2.Q): assemble documents into
    // fixed-token-budget training sequences — the step between "clean
    // corpus" and "batches a trainer can read". Deterministic
    // contiguous packing: within each source, docs in doc_id order;
    // a doc's sequence is its starting token offset div the budget
    // (docs may straddle a boundary — the standard distributed
    // approximation of greedy first-fit, which is inherently
    // sequential). Output is one row per packed sequence with its fill
    // accounting; all-integer arithmetic, so the DuckDB window-cumsum
    // twin hash-matches exactly.
    //
    // At 100 TB the window cumsum is the only shuffle and it
    // partitions by source — a skewed source pins one reducer. The
    // production variant packs per (source, shard) with
    // shard = splitBucket(doc_id) mod S: packing is shard-local, so
    // partitions stay bounded at corpus_size/S and every shard packs
    // independently (sequence ids become (shard, seq_id) — same
    // accounting, embarrassingly parallel). The single-key form here
    // keeps the oracle portable.
    "j_pack_sequences" -> { (s, d) =>
      val budget = 512
      val w = Window.partitionBy("source").orderBy("doc_id")
      Tables.documents(s, d)
        .select(col("source"), col("doc_id"),
          size(split(col("text"), " ")).cast(LongType).as("n_tok"))
        .withColumn("cum", sum("n_tok").over(w))
        .withColumn("seq_id", expr(s"(cum - n_tok) div $budget"))
        .groupBy("source", "seq_id")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_tok").as("n_tokens"),
          min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
        .orderBy("source", "seq_id")
    },

    // Deterministic epoch shuffle (§2.Q): the global pseudorandom
    // training order every epoch materialization needs, without a
    // driver-side RNG or a single-point sort. Each doc gets a Lehmer
    // sort key from (doc_id, seed) — same arithmetic family as the
    // split/sample ops, identical on DuckDB — and a shard = key mod S.
    // [[epochShards]] is the write path: repartitionByRange on
    // (shard, ord) + sortWithinPartitions, so the epoch lands as S
    // contiguous sorted shard files with one range exchange and NO
    // global single-reducer sort; a new seed is a whole new order.
    "j_shuffle_epoch" -> { (s, d) =>
      epochShards(Tables.documents(s, d).select(col("doc_id")),
          seed = 7L, nShards = 16)
        .select(col("doc_id"), col("shard"), col("ord"))
        .orderBy("shard", "ord", "doc_id")
    },

    // PII scrub (§2.Q): redact email / phone / id-number shapes from
    // corpus text — the privacy gate a training pipeline runs before
    // tokenization. The fixtures carry no PII, so the query first
    // derives deterministic PII-shaped spans from doc_id (both engines
    // compute the same enrichment — the oracle proves the scrub
    // removed exactly what was planted, counts included). Pure
    // per-row regex work: no shuffle at all, whole-stage codegen,
    // embarrassingly parallel at any scale.
    "j_pii_scrub" -> { (s, d) =>
      val enriched = concat(col("text"),
        when(col("doc_id") % 3 === 0,
          concat(lit(" contact u"), col("doc_id").cast(StringType),
            lit("@mail.example.com"))).otherwise(lit("")),
        when(col("doc_id") % 4 === 0,
          concat(lit(" call 555-"),
            lpad((col("doc_id") * 7919 % 10000000).cast(StringType),
              7, "0"))).otherwise(lit("")),
        when(col("doc_id") % 5 === 0, lit(" id 123-45-6789"))
          .otherwise(lit("")))
      val scrubbed = regexp_replace(regexp_replace(regexp_replace(
        col("enriched"), lit(PiiEmailPat), lit("<EMAIL>")),
        lit(PiiIdPat), lit("<ID>")), lit(PiiPhonePat), lit("<PHONE>"))
      Tables.documents(s, d)
        .select(col("doc_id"), enriched.as("enriched"))
        .select(col("doc_id"), scrubbed.as("scrubbed"),
          size(regexp_extract_all(col("enriched"), lit(PiiEmailPat),
            lit(0))).cast(LongType).as("n_email"),
          size(regexp_extract_all(col("enriched"), lit(PiiPhonePat),
            lit(0))).cast(LongType).as("n_phone"),
          size(regexp_extract_all(col("enriched"), lit(PiiIdPat),
            lit(0))).cast(LongType).as("n_id"))
        .orderBy("doc_id")
    },

    // URL-canonicalization dedup (§2.Q): the crawl-side exact dedup —
    // the same page arrives as casing/port/utm/trailing-slash
    // variants, and canonical identity (lowercase, default port and
    // tracking params stripped, trailing slash trimmed) groups them
    // before any content-level pass. Noisy variants are derived
    // deterministically from doc_id on BOTH engines (four variant
    // shapes per canonical page); the oracle runs the identical
    // canonicalization, so the hash-match proves the algebra. One
    // groupBy on the canonical key — at 100 TB this is the cheap
    // first stage of the dedup cascade, upstream of shingling.
    "j_dedup_url" -> { (s, d) =>
      val page = (col("doc_id") / 4).cast(LongType)
      val hostN = pmod(page, lit(10L)).cast(StringType)
      val raw = concat(lit("https://src"), hostN,
        when(col("doc_id") % 4 === 0, lit(".Example.COM"))
          .otherwise(lit(".example.com")),
        when(col("doc_id") % 4 === 1, lit(":443")).otherwise(lit("")),
        lit("/docs/"), page.cast(StringType),
        when(col("doc_id") % 4 === 3, lit("/")).otherwise(lit("")),
        when(col("doc_id") % 4 === 0, lit("?utm_source=x&utm_medium=z"))
          .when(col("doc_id") % 4 === 2, lit("?utm_campaign=y"))
          .otherwise(lit("")))
      val canonical = regexp_replace(regexp_replace(regexp_replace(
        lower(col("raw")), lit(":443/"), lit("/")),
        lit("[?&]utm_[a-z_]+=[^&]*"), lit("")),
        lit("/$"), lit(""))
      Tables.documents(s, d)
        .select(col("doc_id"), raw.as("raw"))
        .select(col("doc_id"), canonical.as("canonical"))
        .groupBy("canonical")
        .agg(count(lit(1)).as("n_variants"),
          min("doc_id").as("survivor"))
        .orderBy("canonical")
    },

    // Threshold-from-data corpus filter (§2.Q): keep docs at/above
    // the corpus's 25th-percentile quality — the data-dependent gate
    // a curation pipeline needs (a constant threshold drifts as the
    // corpus shifts). The integer basis-point score from
    // j_text_quality feeds one percentile aggregate; the scalar
    // broadcasts back over a crossJoin, so the plan is scan → agg →
    // broadcast-filter with no driver round-trip. At 100 TB the
    // scored frame persists once and serves both passes.
    "j_quality_filter_percentile" -> { (s, d) =>
      val scored = graft.Caches.persisted(
        Tables.documents(s, d)
          .withColumn("num", qualityNum)
          .withColumn("q4",
            expr("(num * 10000) div (5000 * size(split(text, ' ')))"))
          .select(col("doc_id"), col("q4")))
      val thr = scored.agg(expr("percentile(q4, 0.25)").as("thr"))
      scored.crossJoin(broadcast(thr))
        .filter(col("q4").cast(DoubleType) >= col("thr"))
        .select(col("doc_id"), col("q4"))
        .orderBy("doc_id")
    },

    // Vocabulary Zipf report (§2.Q): the corpus-health dashboard
    // query — top-50 tokens with frequency and corpus share. The
    // vocabulary aggregate shuffles vocab-sized data ONCE — tf is
    // persisted because both the grand total and the top-50 consume
    // it (unpersisted, the corpus explode+shuffle ran twice; VERDICT
    // r9 item 4). The top-50 is TakeOrderedAndProject (never a global
    // sort), and the rank window runs over 50 rows, not the
    // vocabulary.
    "j_text_zipf" -> { (s, d) =>
      val tf = graft.Caches.persisted(
        Tables.documents(s, d)
          .select(explode(split(col("text"), " ")).as("term"))
          .groupBy("term").agg(count(lit(1)).as("freq")))
      val total = tf.agg(sum("freq").as("total"))
      val top = tf.orderBy(desc("freq"), asc("term")).limit(50)
      top.crossJoin(broadcast(total))
        .withColumn("rank", row_number().over(
          Window.orderBy(desc("freq"), asc("term"))).cast("int"))
        .select(col("rank"), col("term"), col("freq"),
          // corpus-denominator rational → exact integer rounding
          // (r13; the round(double,4) half-way class, Det.r4 note)
          expr(Det.r4RatioSql("freq", "total", "div")).as("share"))
        .orderBy("rank")
    },

    // Corpus-trained unigram language model score (§2.Q): the
    // KenLM-shaped quality signal — train token probabilities on the
    // corpus itself (one groupBy), score each doc by its mean token
    // log-probability. Low scores = rare-token word salad, the
    // standard perplexity-proxy filter. The LM table is vocabulary-
    // sized → broadcast join; the per-doc mean reuses the exploded
    // tokens, so the whole op is one shuffle (the groupBy) plus a
    // broadcast — at 100 TB the LM trains once and is reused by every
    // scoring pass.
    "j_text_unigram_lm" -> { (s, d) =>
      val tok = graft.Caches.persisted(
        Tables.documents(s, d)
          .select(col("doc_id"), explode(split(col("text"), " ")).as("term")))
      val lm = tok.groupBy("term").agg(count(lit(1)).as("cnt"))
      val total = tok.agg(count(lit(1)).as("total"))
      // final rounding in exact integer arithmetic (r13, found by the
      // sf1 full-suite oracle): round(double, 4) is a half-way trap —
      // see Det.r4's hazard note. The per-term quantization to
      // DECIMAL(20,6) is the standing dsum idiom; only the average's
      // 4-decimal rounding moves to integers.
      tok.join(broadcast(lm), "term").crossJoin(broadcast(total))
        .groupBy("doc_id")
        .agg((sum(log(col("cnt").cast(DoubleType) /
            col("total").cast(DoubleType)).cast(DecimalType(20, 6)))
            * lit(1000000)).cast("long").as("sm"),
          count(lit(1)).as("n"))
        .select(col("doc_id"),
          expr(Det.r4AvgMicrosSql("div")).as("lm_score"))
        .orderBy("doc_id")
    },

    // Bigram LM with stupid backoff (§2.R — VERDICT r7 "What's
    // missing" #2): the KenLM-style quality gate real pipelines run.
    // The unigram entry above is honest about being a perplexity
    // PROXY — it scores a document by its token MULTISET, so shuffled
    // word salad and fluent prose with the same tokens score
    // identically. The bigram model reads order. Train/score follow
    // the standing 80/20 Lehmer id split (the corpus you curated
    // yesterday scores today's batch): P(w|prev) = c(prev,w)/c(prev)
    // when the bigram was seen, else 0.4·c(w)/N (backoff), else
    // 0.4/N (OOV floor); position 1 scores its unigram. Same shapes
    // as unigram: two groupBys train the vocab-sized tables once,
    // then broadcast-join the scoring pairs — at 100 TB the LM is a
    // stored kilobyte-to-megabyte artifact and scoring is one
    // broadcast pass, no shuffle of the corpus.
    "j_text_bigram_lm" -> { (s, d) =>
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val isBase = splitBucket(col("doc_id")) < 80
      bigramLmScore(docs.filter(isBase), docs.filter(!isBase))
        .orderBy("doc_id")
    },

    // The CCNet-shaped LM quality GATE (§2.R): the perplexity filter
    // every pretraining corpus runs — score held-out docs under the
    // base-trained bigram LM (stupid backoff, same model as
    // j_text_bigram_lm) and keep those at or above the 25th
    // percentile, dropping the most-surprising quartile. Threshold
    // comparison is safe cross-engine: scores are 4-decimal-rounded
    // before the quantile, and an interpolated threshold only
    // coincides with a data point when both neighbors are equal — in
    // which case both engines return that exact value. Scale shape:
    // the LM tables are vocabulary-sized broadcasts; the only
    // corpus-sized stage is the score explode, and the threshold is a
    // 1-row broadcast back onto the persisted scores.
    "j_quality_lm_filter" -> { (s, d) =>
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val isBase = splitBucket(col("doc_id")) < 80
      val scored = graft.Caches.persisted(
        bigramLmScore(docs.filter(isBase), docs.filter(!isBase)))
      val thr = scored.agg(expr("percentile(lm_score, 0.25)").as("thr"))
      scored.crossJoin(broadcast(thr))
        .filter(col("lm_score") >= col("thr"))
        .select("doc_id", "lm_score")
        .orderBy("doc_id")
    },

    // Hashing-trick linear quality classifier (§2.R): the fastText/
    // CCNet-shaped gate — tokens hash into 1024 feature buckets
    // (codegen'd `graft_polyhash`), each bucket carries a weight, a
    // doc's score is the weight sum over its tokens, keep = score ≥ 0.
    // The container ships no trained model, so the weight TABLE is a
    // deterministic Lehmer surrogate of the bucket id (the same
    // honesty convention as j_pii_scrub's planted PII): the scoring
    // PLUMBING — feature hashing, sparse accumulation, the keep gate —
    // is the real thing and is what the oracle proves. All-integer
    // arithmetic (weights ∈ [−1000, 1000], no division), so the twin
    // is hash-exact. Scale shape: per-doc score is doc-LOCAL — array
    // HOFs inside the scan projection, zero shuffles at any corpus
    // size (the spec pins the Exchange-free plan); a real weight table
    // (≤ 1024 longs) would ride the plan as a literal exactly like
    // the BPE merge table.
    "j_quality_classifier" -> { (s, d) =>
      graft.functions.VectorExprs.register(s)
      Tables.documents(s, d)
        .withColumn("ws", expr(
          """transform(filter(split(text, ' '), t -> t <> ''),
            |  t -> ((pmod(graft_polyhash(t), 1024L) + 1L) * 48271L
            |        % 2147483647L) % 2001L - 1000L)""".stripMargin))
        .select(col("doc_id"),
          size(col("ws")).cast(LongType).as("n_feat"),
          expr("aggregate(ws, 0L, (a, x) -> a + x)").as("score_sum"))
        .filter(col("n_feat") > 0)
        .withColumn("keep",
          when(col("score_sum") >= 0, lit(1)).otherwise(lit(0)))
        .orderBy("doc_id")
    },

    // Nearest-centroid document classifier (§2.R widened, r13): the
    // Rocchio-style TRAINED model gate beside j_quality_classifier's
    // fixed-weight scorer — per-class centroids of five doc-shape
    // features (chars, tokens, punctuation, digits, uppercase, each
    // capped at 1e6) trained on the standing 80% Lehmer split; every
    // 20%-split doc assigned to the nearer centroid by squared
    // Euclidean distance. The arithmetic is EXACT end-to-end, so the
    // integer prediction is hash-provable: centroid means quantize to
    // integer micros by half-up BIGINT rationals over the div/mod
    // split of S/n (intermediates ≤ 1e6·n), and distances sum as
    // DECIMAL(38,0) squares — ≤ 5e24 at ANY corpus size, because the
    // magnitude bound comes from the feature cap, not the doc count
    // (the twin runs the same numbers in HUGEINT). Ties predict class
    // 0. Labels are the lang='en' column — the honest weak-label
    // stand-in for a curated quality set (the j_quality_classifier
    // surrogate convention); the oracle proves the trainer+scorer
    // algebra. Scale shape: training is ONE partial-aggregable
    // groupBy(cls) to a 2-row frame; scoring broadcasts the 1-row
    // pivoted centroids onto a doc-local projection — zero wide
    // exchanges beyond the presentation sort.
    "j_quality_centroid" -> { (s, d) =>
      val feats = centroidFeatures(
        Tables.documents(s, d).select("doc_id", "lang", "text"))
      centroidClassify(feats, splitBucket(col("doc_id")) < 80)
        .orderBy("doc_id")
    },

    // Character-trigram language ID (§2.R): Cavnar–Trenkle out-of-
    // place rank distance — the real published langid algorithm, where
    // `j_lang_detect_heuristic`'s token vote is the honest stand-in.
    // Per-language top-40 trigram rank profiles train on the standing
    // 80% Lehmer split; each 20%-split doc is classified by the
    // minimum out-of-place distance between its own top-20 trigram
    // ranks and each profile (missing trigram = max penalty 40).
    // Rank ORDER carries the signal — morphology (suffix/prefix
    // shapes), not shared-vocabulary luck — and TextOpsSpec proves it
    // separates planted character distributions perfectly while
    // staying deterministic under repartitioning. The profile is a
    // langs×40-row stored-artifact candidate; scoring broadcasts it,
    // so the corpus crosses one exchange (its own top-20 aggregation)
    // at any scale.
    "j_langid_chargram" -> { (s, d) =>
      // spread BEFORE the trigram explode: the fixture is one row
      // group, so without it the corpus-proportional explode+count
      // runs on one core (r9: 2.8 → 1.4 s steady at sf0.1). r19: the
      // profile reads the STORED catalog artifact
      // ([[chargramProfileTable]] — trained once per session/corpus
      // from the same 80% split), so steady-state scoring pays a
      // langs×40-row broadcast, not a corpus re-train; values are
      // identical so the oracle is unchanged.
      val docs = Par.spread(
        Tables.documents(s, d).select("doc_id", "lang", "text"))
      val isBase = splitBucket(col("doc_id")) < 80
      chargramPredictions(
        s.table(chargramProfileTable(s, d)),
        docs.filter(!isBase), 40)
        .orderBy("doc_id")
    },

    // Overlapping document chunking (r10): fixed 120-char windows at
    // stride 90 — the context-window segmentation step between raw
    // documents and j_pack_sequences (chunk → tokenize → pack). Pure
    // in-scan work: sequence+explode derive the chunk index list from
    // each row alone, so the operator is a narrow transformation with
    // ZERO shuffles beyond the presentation sort — at 100 TB it
    // streams. A short doc (≤120 chars) yields exactly one chunk.
    "j_doc_chunk" -> { (s, d) =>
      val nIdx = greatest(lit(0L),
        ceil((length(col("text")) - lit(120)).cast(DoubleType) / 90.0)
          .cast(LongType))
      Tables.documents(s, d)
        .select(col("doc_id"), col("text"),
          explode(sequence(lit(0L), nIdx)).as("chunk_idx"))
        .select(col("doc_id"), col("chunk_idx"),
          col("text").substr(
            (col("chunk_idx") * 90 + 1).cast(IntegerType),
            lit(120)).as("chunk_text"))
        .withColumn("chunk_len", length(col("chunk_text")))
        .orderBy("doc_id", "chunk_idx")
    },

    // Corpus health report (r10): the per-source dashboard a curation
    // run opens with — doc counts, language spread, token volume, mean
    // length, and the exact-dup count (docs beyond the first per md5
    // fingerprint). Everything partial-aggregates except the two exact
    // count-distincts; lang is ~5-valued, and the md5 distinct is the
    // deliberate exactness choice (d_agg_approx_distinct is the
    // sketch-tier alternative when 100 TB can tolerate ±2%). The
    // exchange carries 16-byte fingerprints, never text.
    "j_corpus_report" -> { (s, d) =>
      Tables.documents(s, d)
        .select(col("source"), col("lang"), col("n_chars"),
          size(toks).as("n_tok"), md5(col("text")).as("fp"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("lang")).as("n_langs"),
          sum(col("n_tok").cast(LongType)).as("total_tok"),
          Det.davg(col("n_chars").cast(DoubleType)).as("avg_chars"),
          (count(lit(1)) - countDistinct(col("fp"))).as("n_exact_dups"))
        .orderBy("source")
    },

    // Corpus-wide repeated-segment profile (r10) — the C4-style
    // boilerplate pass (C4 drops any line occurring ≥3 times in the
    // corpus; these documents have no newlines, so the "line" is a
    // disjoint 5-token segment). Per doc: total segments and how many
    // the ≥3-occurrence rule would remove. Two aggregations over ONE
    // persisted segment explode (count per fingerprint, then the
    // per-doc rollup through a fingerprint join) — the exchanges carry
    // 32-byte fingerprints + doc ids, never segment text; at 100 TB
    // the fingerprint frame is the stored artifact an incremental run
    // would merge into, exactly like the dedup postings stores.
    "j_dedup_lines" -> { (s, d) =>
      val tk = split(col("text"), " ")
      val segs = graft.Caches.persisted(
        Tables.documents(s, d)
          .select(col("doc_id"),
            explode(sequence(lit(0L),
              floor((size(tk) - 1).cast(DoubleType) / 5.0)
                .cast(LongType))).as("si"),
            tk.as("tk"))
          .select(col("doc_id"),
            md5(array_join(slice(col("tk"),
              (col("si") * 5 + 1).cast(IntegerType), lit(5)), " "))
              .as("fp")))
      val cnt = segs.groupBy("fp").agg(count(lit(1)).as("c"))
      segs.join(cnt, "fp")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_segments"),
          count(when(col("c") >= 3, 1)).as("n_removed"))
        .orderBy("doc_id")
    },

    // The APPLY step of j_dedup_lines (r10): emit each document with
    // its ≥3-occurrence segments REMOVED (content witnessed as an md5
    // so the oracle pins the exact cleaned text without shipping it).
    // Scale shape: the banned-fingerprint set — segments repeated ≥3
    // times corpus-wide, a tiny fraction of distinct segments at any
    // realistic threshold — is aggregated once and BROADCAST back,
    // so the reconstruction is pure in-scan work per document (filter
    // HOF over the row's own segment array): document text never
    // crosses an exchange, only fingerprints do. If the banned set
    // ever outgrew broadcast, the fallback is the fp-join formulation
    // j_dedup_lines uses for its counts.
    "j_dedup_lines_apply" -> { (s, d) =>
      val tk = split(col("text"), " ")
      val nSeg = ((size(tk) - lit(1)) / lit(5)).cast(IntegerType)
      val segArr = transform(sequence(lit(0), nSeg),
        i => array_join(slice(tk, i * 5 + 1, lit(5)), " "))
      // r20 (guide §5): ONE persisted (doc_id, segments) projection
      // feeds both the banned-set derivation and the apply pass — the
      // r19 shape scanned the corpus and rebuilt the segment arrays
      // (tokenize + per-segment array_join) twice. Values unchanged:
      // both consumers see exactly the rows their standalone
      // derivations produced; released by the harness's Caches.release.
      val segs = graft.Caches.persisted(Tables.documents(s, d)
        .select(col("doc_id"), segArr.as("segs")))
      val banned = segs
        .select(explode(col("segs")).as("seg"))
        .groupBy(md5(col("seg")).as("fp"))
        .agg(count(lit(1)).as("c"))
        .filter(col("c") >= 3)
        .agg(collect_list(col("fp")).as("banned"))
      segs
        .crossJoin(broadcast(banned))
        .select(col("doc_id"),
          filter(col("segs"), sEl =>
            !array_contains(col("banned"), md5(sEl))).as("kept"))
        .select(col("doc_id"),
          size(col("kept")).as("n_kept"),
          md5(array_join(col("kept"), " ")).as("cleaned_md5"))
        .orderBy("doc_id")
    },

    // Collocation mining (r10): top-20 adjacent-token pairs by PMI
    // (pointwise mutual information, min count 5) — the phrase-mining
    // pass that seeds tokenizer merge candidates and corpus phrase
    // lists. One persisted bigram explode feeds all three count
    // frames (the j_text_bigram_lm discipline); PMI's doubles come
    // from exact integer counts through the identical expression on
    // both engines, so even the top-20 ordering is reproducible. The
    // unigram join keys are tokens — bounded by vocabulary, not
    // corpus size.
    "j_text_collocations" -> { (s, d) =>
      val tp = graft.Caches.persisted(
        bigramPairs(Tables.documents(s, d)))
      val uni = tp.groupBy("cur").agg(count(lit(1)).as("uc"))
      val tot = tp.agg(count(lit(1)).as("n"))
      val big = tp.filter(col("prev").isNotNull)
        .groupBy("prev", "cur").agg(count(lit(1)).as("bc"))
      big.filter(col("bc") >= 5)
        .join(uni.select(col("cur").as("prev"), col("uc").as("ucp")),
          "prev")
        .join(uni.select(col("cur"), col("uc").as("ucc")), "cur")
        .crossJoin(broadcast(tot))
        .select(col("prev"), col("cur"), col("bc"),
          Det.r4(log(col("bc").cast(DoubleType) * col("n") /
            (col("ucp").cast(DoubleType) * col("ucc")))).as("pmi"))
        .orderBy(desc("pmi"), asc("prev"), asc("cur"))
        .limit(20)
    },

    // Corpus drift (r10): Jensen-Shannon divergence between the
    // unigram distributions of the 80/20 id-hash splits — the
    // train-vs-validation skew monitor (0 nats = identical
    // distributions; ln 2 = disjoint). Each vocabulary term's JS
    // contribution is computed from exact count ratios through the
    // identical expression on both engines and decimal-cast before
    // the sum, so the scalar is order-independent. Cost: one token
    // explode → (half, token) counts — vocabulary-sized everything
    // after the first partial-aggregated exchange.
    "j_corpus_drift" -> { (s, d) =>
      val isBase = splitBucket(col("doc_id")) < 80
      val docs = Tables.documents(s, d)
      jsDivergence(termCounts(docs.filter(isBase)),
        termCounts(docs.filter(!isBase)))
    }
  )

  /** Per-term counts of a (… text …) frame — the distribution input
    * of [[jsDivergence]] and the artifact DriftStream folds. */
  private[graft] def termCounts(docs: DataFrame): DataFrame =
    docs.select(explode(toks).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c"))

  /** Jensen–Shannon divergence (nats) between two (tok, c) count
    * frames, with the per-term contributions decimal-cast so the
    * scalar is reduce-order-independent. Shared by the batch
    * j_corpus_drift entry and the streaming drift monitor
    * (streaming/DriftStream.scala) — same code, zero drift between
    * the twins by construction. */
  private[graft] def jsDivergence(ca: DataFrame, cb: DataFrame): DataFrame = {
    val c = ca.select(lit("a").as("half"), col("tok"), col("c"))
      .unionByName(cb.select(lit("b").as("half"), col("tok"), col("c")))
    val tot = c.groupBy("half").agg(sum(col("c")).as("t"))
    val p = c.join(tot, "half")
      .groupBy("tok")
      .agg(max(when(col("half") === "a",
        col("c").cast(DoubleType) / col("t"))).as("pa"),
        max(when(col("half") === "b",
          col("c").cast(DoubleType) / col("t"))).as("pb"))
    val m = (coalesce(col("pa"), lit(0.0)) +
      coalesce(col("pb"), lit(0.0))) / lit(2)
    val contrib =
      lit(0.5) * when(col("pa").isNull || col("pa") === 0, lit(0.0))
        .otherwise(col("pa") * log(col("pa") / m)) +
      lit(0.5) * when(col("pb").isNull || col("pb") === 0, lit(0.0))
        .otherwise(col("pb") * log(col("pb") / m))
    p.agg(
      Det.r4(sum(contrib.cast(DecimalType(24, 12))).cast(DoubleType))
        .as("js_nats"),
      count(lit(1)).as("vocab"))
  }

  /** (doc_id, prev, cur) adjacent-token pairs of each document; prev is
    * NULL at position 1. Shuffle-free — one transform+explode over the
    * token array, no window/lag exchange. */
  private[graft] def bigramPairs(docs: DataFrame): DataFrame = {
    val tk = split(col("text"), " ")
    docs.select(col("doc_id"),
        explode(transform(sequence(lit(1), size(tk)),
          i => struct(
            when(i === 1, lit(null).cast("string"))
              .otherwise(element_at(tk, i - 1)).as("prev"),
            element_at(tk, i).as("cur")))).as("p"))
      .select(col("doc_id"), col("p.prev").as("prev"), col("p.cur").as("cur"))
  }

  /** Mean log-probability of each `score` doc under a bigram LM with
    * stupid backoff (α=0.4) trained on `train`. Deterministic: double
    * probability arithmetic is identical expression-for-expression on
    * both engines, and the per-doc sum is decimal-cast ([[Det.dsum]]).
    * TextOpsSpec proves the order-sensitivity claim: same-multiset
    * shuffled text scores strictly below the natural original, where
    * the unigram score cannot tell them apart. */
  /** The bigram LM's trained state as two count tables — `uni(cur,
    * uc)` and `big(prev, cur, bc)`. Vocabulary-sized (KB at any corpus
    * scale, since counts aggregate), so they can live as CATALOG
    * ARTIFACT tables next to the dedup store (r12: the corpus
    * pipeline's LM gate reads the stored counts instead of re-training
    * per run — CorpusPipeline.lmArtifactPrefix). The pair total needs
    * no third table: every pair carries a `cur`, so total = Σ uc. */
  private[graft] def bigramLmTrain(train: DataFrame): (DataFrame, DataFrame) = {
    // train pairs feed both aggregates — one explode, persisted
    val tp = graft.Caches.persisted(bigramPairs(train))
    val uni = tp.groupBy(col("cur")).agg(count(lit(1)).as("uc"))
    val big = tp.filter(col("prev").isNotNull)
      .groupBy("prev", "cur").agg(count(lit(1)).as("bc"))
    (uni, big)
  }

  private[graft] def bigramLmScore(train: DataFrame,
                                   score: DataFrame): DataFrame = {
    val (uni, big) = bigramLmTrain(train)
    bigramLmScoreWith(uni, big, score)
  }

  /** Stupid-backoff scoring against a TRAINED LM (inline-built or read
    * back from the stored artifact tables — identical counts either
    * way, so the score, and every oracle hash downstream of it, cannot
    * move). */
  private[graft] def bigramLmScoreWith(uni: DataFrame, big: DataFrame,
                                       score: DataFrame): DataFrame = {
    val tot = uni.agg(sum(col("uc")).as("total"))
    val alpha = 0.4
    val n = col("total").cast(DoubleType)
    val prob =
      when(col("prev").isNull,
        when(col("uc").isNotNull, col("uc").cast(DoubleType) / n)
          .otherwise(lit(1.0) / n))
      .otherwise(
        when(col("bc").isNotNull,
            col("bc").cast(DoubleType) / col("pc").cast(DoubleType))
          .when(col("uc").isNotNull,
            lit(alpha) * col("uc").cast(DoubleType) / n)
          .otherwise(lit(alpha) / n))
    bigramPairs(score)
      .join(broadcast(big), Seq("prev", "cur"), "left")
      .join(broadcast(uni.toDF("cur", "uc")), Seq("cur"), "left")
      .join(broadcast(uni.toDF("prev", "pc")), Seq("prev"), "left")
      .crossJoin(broadcast(tot))
      .groupBy("doc_id")
      // integer-rounded average (r13): same micros/half-away shape as
      // the unigram entry — see Det.r4's half-way-trap note
      .agg((sum(log(prob).cast(DecimalType(20, 6))) * lit(1000000))
          .cast("long").as("sm"),
        count(lit(1)).as("n"))
      .select(col("doc_id"), expr(Det.r4AvgMicrosSql("div")).as("lm_score"))
  }

  // portable (Java regex ∩ RE2) PII patterns — no alternation, no
  // backtracking constructs, so leftmost-first (Java) and
  // leftmost-longest (RE2) agree
  private val PiiEmailPat = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
  private val PiiPhonePat = "[0-9]{3}-[0-9]{7}"
  private val PiiIdPat = "[0-9]{3}-[0-9]{2}-[0-9]{4}"

  /** Epoch-shard materialization: Lehmer order key from (doc_id,
    * seed), shard = key mod nShards, then ONE range exchange on
    * (shard, ord) + local sort — the epoch lands as nShards contiguous
    * sorted files, no global sort bottleneck. TextOpsSpec pins the
    * partition layout (disjoint contiguous ranges, sorted within) and
    * cross-parallelism determinism. */
  def epochShards(docs: DataFrame, seed: Long, nShards: Int): DataFrame = {
    val M = 2147483647L
    docs
      .withColumn("ord",
        pmod(pmod(col("doc_id") + lit(seed), lit(M)) * lit(48271L), lit(M)))
      .withColumn("shard", pmod(col("ord"), lit(nShards.toLong)))
      .repartitionByRange(nShards, col("shard"), col("ord"))
      .sortWithinPartitions("shard", "ord", "doc_id")
  }

  /** Shared CTE chain of the bigram-LM oracle: ends with
    * `scores(doc_id, lm_score)` — the LM report appends a bare
    * SELECT, the quality gate appends the quantile threshold. */
  /** The bigram-LM (stupid-backoff) oracle fragment, parameterized so
    * ONE copy of the probability arithmetic serves both the standalone
    * entries (src = documents, 80/20 split, plain scores) and the
    * pipeline's LM quality gate (src = d0, every doc scored, scores
    * MATERIALIZED, `l` prefix) — a second hand-maintained copy is how
    * the Spark and SQL sides silently desynchronize (r11 review).
    * Emits CTEs `${pfx}pr … ${pfx}scores(doc_id, lm_score)`, no WITH. */
  private[operators] def bigramLmCteFrom(src: String, pfx: String,
      scoreAll: Boolean, materializeScores: Boolean): String = {
    val mat = if (materializeScores) " MATERIALIZED" else ""
    val scPred =
      if (scoreAll) "TRUE" else s"${splitBucketSql("doc_id")} >= 80"
    s"""${pfx}pr AS (
       |  SELECT doc_id, unnest(list_transform(string_split(text,' '),
       |    (x, i) -> struct_pack(
       |      prev := CASE WHEN i = 1 THEN NULL
       |              ELSE string_split(text,' ')[i-1] END,
       |      cur := x))) AS p
       |  FROM $src),
       |${pfx}pairs AS (SELECT doc_id, p.prev AS prev, p.cur AS cur
       |  FROM ${pfx}pr),
       |${pfx}train AS (SELECT * FROM ${pfx}pairs
       |  WHERE ${splitBucketSql("doc_id")} < 80),
       |${pfx}uni AS (SELECT cur AS w, count(*) AS uc FROM ${pfx}train
       |  GROUP BY 1),
       |${pfx}big AS (SELECT prev, cur, count(*) AS bc FROM ${pfx}train
       |  WHERE prev IS NOT NULL GROUP BY 1, 2),
       |${pfx}tot AS (SELECT count(*) AS total FROM ${pfx}train),
       |${pfx}sc AS (SELECT * FROM ${pfx}pairs
       |  WHERE $scPred),
       |${pfx}probs AS (
       |  SELECT sc.doc_id,
       |    CASE WHEN sc.prev IS NULL THEN
       |      CASE WHEN u.uc IS NOT NULL
       |           THEN CAST(u.uc AS DOUBLE) / CAST(total AS DOUBLE)
       |           ELSE CAST(1.0 AS DOUBLE) / CAST(total AS DOUBLE) END
       |    ELSE
       |      CASE WHEN b.bc IS NOT NULL
       |           THEN CAST(b.bc AS DOUBLE) / CAST(up.uc AS DOUBLE)
       |           WHEN u.uc IS NOT NULL
       |           THEN CAST(0.4 AS DOUBLE) * CAST(u.uc AS DOUBLE)
       |                / CAST(total AS DOUBLE)
       |           ELSE CAST(0.4 AS DOUBLE) / CAST(total AS DOUBLE) END
       |    END AS prob
       |  FROM ${pfx}sc sc
       |  LEFT JOIN ${pfx}big b ON b.prev = sc.prev AND b.cur = sc.cur
       |  LEFT JOIN ${pfx}uni u ON u.w = sc.cur
       |  LEFT JOIN ${pfx}uni up ON up.w = sc.prev
       |  CROSS JOIN ${pfx}tot),
       |${pfx}per AS (
       |  SELECT doc_id,
       |    CAST(SUM(CAST(ln(prob) AS DECIMAL(20,6))) * 1000000 AS BIGINT)
       |      AS sm,
       |    count(*) AS n
       |  FROM ${pfx}probs GROUP BY doc_id),
       |${pfx}scores AS$mat (
       |  SELECT doc_id, ${Det.r4AvgMicrosSql("//")} AS lm_score
       |  FROM ${pfx}per)""".stripMargin
  }

  private def bigramLmCte: String =
    "WITH " + bigramLmCteFrom("documents", "", scoreAll = false,
      materializeScores = false)

  val oracles: Map[String, String] = Map(
    // see the j_text_bpe_tokenize entry comment — training recursion +
    // per-distinct-word apply; merges verified sequence-identical to
    // Bpe.train before relying on the output hash
    "j_text_bpe_tokenize" ->
      """WITH RECURSIVE
        |wf AS MATERIALIZED (
        |  SELECT word, count(*) AS freq FROM (
        |    SELECT unnest(list_filter(
        |      regexp_split_to_array(lower(text), '[^a-z0-9]+'),
        |      w -> len(w) > 0)) AS word
        |    FROM documents)
        |  GROUP BY word ORDER BY freq DESC, word ASC LIMIT 512),
        |tr AS (
        |  SELECT 0 AS it, word, freq, string_split(word, '') AS syms,
        |    CAST([] AS VARCHAR[][]) AS merges
        |  FROM wf
        |  UNION ALL
        |  SELECT it + 1, word, freq,
        |    CASE WHEN bc >= 2 THEN
        |      list_reduce(
        |        list_prepend(CAST([] AS VARCHAR[]),
        |          list_transform(syms, s -> [s])),
        |        (o, e) -> CASE WHEN len(o) > 0 AND o[len(o)] = ba
        |                    AND e[1] = bb
        |                  THEN o[1:len(o) - 1] || [ba || bb]
        |                  ELSE o || e END)
        |    ELSE syms END,
        |    CASE WHEN bc >= 2 THEN list_append(merges, [ba, bb])
        |    ELSE merges END
        |  FROM (
        |    SELECT it, word, freq, syms, merges,
        |      first_value(pa) OVER wbest AS ba,
        |      first_value(pb) OVER wbest AS bb,
        |      first_value(cnt) OVER wbest AS bc
        |    FROM (
        |      SELECT t.it, t.word, t.freq, t.syms, t.merges, p.pa, p.pb,
        |        CASE WHEN p.pa IS NULL THEN -1
        |             ELSE sum(CASE WHEN p.pa IS NULL THEN 0 ELSE t.freq END)
        |               OVER (PARTITION BY p.pa, p.pb) END AS cnt
        |      FROM tr t, LATERAL (
        |        SELECT p0['pa'] AS pa, p0['pb'] AS pb FROM (
        |          SELECT unnest(CASE WHEN len(syms) < 2
        |            THEN [{'pa': CAST(NULL AS VARCHAR),
        |                   'pb': CAST(NULL AS VARCHAR)}]
        |            ELSE list_transform(range(1, len(syms)),
        |              j -> {'pa': syms[j], 'pb': syms[j + 1]}) END) AS p0)) p
        |      WHERE t.it < 200)
        |    WINDOW wbest AS (ORDER BY cnt DESC, pa ASC NULLS LAST,
        |      pb ASC NULLS LAST))
        |  GROUP BY ALL),
        |mg AS MATERIALIZED (
        |  SELECT merges FROM tr WHERE it = 200 LIMIT 1),
        |dw AS MATERIALIZED (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
        |      w -> len(w) > 0) AS words,
        |    CAST(length(regexp_replace(lower(text), '[^a-z0-9]+', '', 'g'))
        |      AS BIGINT) AS n_chars_an
        |  FROM documents),
        |vocab AS MATERIALIZED (
        |  SELECT DISTINCT unnest(words) AS w FROM dw),
        |tokd AS MATERIALIZED (
        |  SELECT w, len(
        |    list_reduce(
        |      list_prepend(string_split(w, ''), m.merges),
        |      (acc, mm) -> list_reduce(
        |        list_prepend(CAST([] AS VARCHAR[]),
        |          list_transform(acc, s -> [s])),
        |        (o, e) -> CASE WHEN len(o) > 0 AND o[len(o)] = mm[1]
        |                    AND e[1] = mm[2]
        |                  THEN o[1:len(o) - 1] || [mm[1] || mm[2]]
        |                  ELSE o || e END))) AS ntok
        |  FROM vocab, mg m),
        |dtok AS (
        |  SELECT x.doc_id, sum(t.ntok) AS n_tokens
        |  FROM (SELECT doc_id, unnest(words) AS w FROM dw) x
        |  JOIN tokd t USING (w) GROUP BY x.doc_id)
        |SELECT d.doc_id,
        |  CAST(len(d.words) AS INT) AS n_words,
        |  d.n_chars_an,
        |  CAST(coalesce(k.n_tokens, 0) AS BIGINT) AS n_tokens
        |FROM dw d LEFT JOIN dtok k USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,
    // stage-for-stage twin of j_dedup_simhash: the portable two-
    // polynomial token hash rebuilt with list_reduce, per-bit ±1 votes
    // over bits 0–61 (bits 62–63 of the 62-bit hash are structurally
    // zero on both engines), signature → 4×16-bit band join → hamming
    "j_dedup_simhash" ->
      """WITH tok AS (
        |  SELECT DISTINCT doc_id, token FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |    FROM documents)
        |  WHERE token <> ''),
        |h1 AS (
        |  SELECT doc_id,
        |    list_reduce(list_transform(string_split(token, ''),
        |      c -> CAST(ascii(c) AS BIGINT)),
        |      (a, b) -> (a * 31 + b) % 2147483647) AS h1,
        |    list_reduce(list_transform(string_split(token, ''),
        |      c -> CAST(ascii(c) AS BIGINT)),
        |      (a, b) -> (a * 131 + b) % 2147483647) AS h2
        |  FROM tok),
        |hh AS (SELECT doc_id,
        |  (((h1 * 48271) % 2147483647) << 31)
        |  | ((h2 * 16807) % 2147483647) AS H FROM h1),
        |votes AS (
        |  SELECT doc_id, b.i AS i,
        |    sum(CASE WHEN (H >> b.i) & 1 = 1 THEN 1 ELSE -1 END) AS v
        |  FROM hh CROSS JOIN (SELECT unnest(range(62)) AS i) b
        |  GROUP BY 1, 2),
        |sig AS (
        |  SELECT doc_id,
        |    sum(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << i) ELSE 0 END) AS sig
        |  FROM votes GROUP BY doc_id),
        |bands AS (
        |  SELECT doc_id, sig, b.band AS band,
        |    (sig >> (b.band * 16)) & 65535 AS bv
        |  FROM sig CROSS JOIN (SELECT unnest(range(4)) AS band) b),
        |pairs AS (
        |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
        |    bit_count(xor(x.sig, y.sig)) AS hamming
        |  FROM bands x JOIN bands y
        |    ON x.band = y.band AND x.bv = y.bv AND x.doc_id < y.doc_id)
        |SELECT doc_a, doc_b, CAST(hamming AS INT) AS hamming
        |FROM pairs WHERE hamming <= 3
        |ORDER BY doc_a, doc_b""".stripMargin,
    "j_text_repetition" ->
      """WITH g AS (
        |  SELECT doc_id,
        |    list_transform(range(1, len(string_split(text, ' '))),
        |      i -> string_split(text, ' ')[i] || ' ' ||
        |           string_split(text, ' ')[i + 1]) AS grams
        |  FROM documents
        |  WHERE len(string_split(text, ' ')) >= 2)
        |SELECT doc_id,
        |  CAST(len(grams) AS BIGINT) AS n2,
        |  CAST(len(list_distinct(grams)) AS BIGINT) AS nd,
        |  (CAST(len(grams) AS BIGINT) - len(list_distinct(grams)))
        |    * 10000 // len(grams) AS rep_bp,
        |  CAST(list_max(list_transform(list_distinct(grams),
        |    x -> len(list_filter(grams, y -> y = x)))) AS BIGINT)
        |    AS max_gram_n
        |FROM g ORDER BY doc_id""".stripMargin,
    // same three-valued-OR previous-token probe (DuckDB lambdas index
    // from 1; [0] is NULL out-of-range, and TRUE OR NULL = TRUE)
    "j_text_scrub_runs" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |k AS (
        |  SELECT doc_id, toks,
        |    list_filter(toks, (t, i) -> i = 1 OR t <> toks[i - 1]) AS kept
        |  FROM t)
        |SELECT doc_id,
        |  array_to_string(kept, ' ') AS scrubbed,
        |  CAST(len(toks) - len(kept) AS BIGINT) AS n_removed
        |FROM k ORDER BY doc_id""".stripMargin,
    "j_text_normalize" ->
      """SELECT doc_id, norm_text,
        |  CAST(length(norm_text) AS BIGINT) AS norm_len,
        |  (norm_text <> text) AS changed
        |FROM (
        |  SELECT doc_id, text,
        |    trim(regexp_replace(regexp_replace(lower(nfc_normalize(text)),
        |      '\p{Nd}', '0', 'g'), '[^\p{L}\p{Nd}]+', ' ', 'g')) AS norm_text
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin,
    "j_text_contamination" ->
      s"""WITH sh AS (SELECT doc_id, ${LlmOps.shSql} AS s FROM documents),
         |ex AS (SELECT doc_id, unnest(s) AS shingle FROM sh),
         |bcut AS (SELECT max(doc_id) AS c FROM
         |  (SELECT doc_id FROM documents ORDER BY doc_id LIMIT 5) t),
         |bench AS (SELECT DISTINCT shingle FROM ex
         |          WHERE doc_id <= (SELECT c FROM bcut)),
         |sizes AS (SELECT doc_id, count(*) AS n_sh FROM ex GROUP BY doc_id),
         |hits AS (
         |  SELECT ex.doc_id, count(*) AS n_hit
         |  FROM ex JOIN bench USING (shingle)
         |  WHERE ex.doc_id > (SELECT c FROM bcut) GROUP BY ex.doc_id)
         |SELECT s.doc_id, s.n_sh, coalesce(h.n_hit, 0) AS n_hit,
         |  (coalesce(h.n_hit, 0) * 10000) // s.n_sh AS contam_bp
         |FROM sizes s LEFT JOIN hits h ON h.doc_id = s.doc_id
         |WHERE s.doc_id > (SELECT c FROM bcut) ORDER BY s.doc_id""".stripMargin,
    "j_sample_mix_weights" ->
      """WITH b AS (
        |  SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
        |t AS (
        |  SELECT CAST(sum(n_docs) AS BIGINT) AS n_total,
        |         CAST(min(n_docs) AS BIGINT) AS n_min FROM b)
        |SELECT source, n_docs,
        |  (n_min * 10000) // n_docs AS keep_rate_bp,
        |  (CASE WHEN NOT (abs(sqrt(CAST(n_docs AS DOUBLE) / n_total)) < 9.0e11) THEN (sqrt(CAST(n_docs AS DOUBLE) / n_total)) WHEN (sqrt(CAST(n_docs AS DOUBLE) / n_total)) < 0 THEN -(floor(-(sqrt(CAST(n_docs AS DOUBLE) / n_total)) * 10000 + 0.5) / 10000) ELSE floor((sqrt(CAST(n_docs AS DOUBLE) / n_total)) * 10000 + 0.5) / 10000 END + 0) AS mix_weight
        |FROM b CROSS JOIN t ORDER BY source""".stripMargin,
    // r20: the emitted running sum MUST be cast back to BIGINT —
    // DuckDB's SUM(BIGINT) returns HUGEINT, whose pandas conversion is
    // float64 ("4998.0"), so the driver's lexsort-then-hash protocol
    // saw a value-level mismatch against Spark's int64 column even
    // though fetchall()-level values were identical (the one r19
    // correctness failure). Every other twin that emits a window/group
    // sum already carries this cast (e.g. j_pack_sequences).
    "j_sample_token_budget" ->
      """SELECT doc_id, source, n_tok, CAST(cum_tok AS BIGINT) AS cum_tok
        |FROM (
        |  SELECT doc_id, source,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
        |    SUM(CAST(len(string_split(text, ' ')) AS BIGINT))
        |      OVER (PARTITION BY source ORDER BY doc_id) AS cum_tok
        |  FROM documents)
        |WHERE cum_tok <= 5000 ORDER BY doc_id""".stripMargin,
    "j_dedup_embed_cosine" ->
      """SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |  (CASE WHEN NOT (abs(list_dot_product(CAST(a.embedding AS DOUBLE[]),
        |                         CAST(b.embedding AS DOUBLE[]))
        |    / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]),
        |                             CAST(a.embedding AS DOUBLE[])))
        |     * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]),
        |                             CAST(b.embedding AS DOUBLE[]))))) < 9.0e11) THEN (list_dot_product(CAST(a.embedding AS DOUBLE[]),
        |                         CAST(b.embedding AS DOUBLE[]))
        |    / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]),
        |                             CAST(a.embedding AS DOUBLE[])))
        |     * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]),
        |                             CAST(b.embedding AS DOUBLE[]))))) WHEN (list_dot_product(CAST(a.embedding AS DOUBLE[]),
        |                         CAST(b.embedding AS DOUBLE[]))
        |    / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]),
        |                             CAST(a.embedding AS DOUBLE[])))
        |     * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]),
        |                             CAST(b.embedding AS DOUBLE[]))))) < 0 THEN -(floor(-(list_dot_product(CAST(a.embedding AS DOUBLE[]),
        |                         CAST(b.embedding AS DOUBLE[]))
        |    / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]),
        |                             CAST(a.embedding AS DOUBLE[])))
        |     * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]),
        |                             CAST(b.embedding AS DOUBLE[]))))) * 10000 + 0.5) / 10000) ELSE floor((list_dot_product(CAST(a.embedding AS DOUBLE[]),
        |                         CAST(b.embedding AS DOUBLE[]))
        |    / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]),
        |                             CAST(a.embedding AS DOUBLE[])))
        |     * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]),
        |                             CAST(b.embedding AS DOUBLE[]))))) * 10000 + 0.5) / 10000 END + 0) AS cos
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE list_dot_product(CAST(a.embedding AS DOUBLE[]),
        |                       CAST(b.embedding AS DOUBLE[]))
        |    / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]),
        |                             CAST(a.embedding AS DOUBLE[])))
        |     * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]),
        |                             CAST(b.embedding AS DOUBLE[])))) >= 0.4
        |ORDER BY vec_a, vec_b""".stripMargin,
    "j_text_quality" ->
      """WITH c AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(text,' ')) AS BIGINT) AS ntok,
        |    CAST(len(list_filter(string_split(text,' '),
        |      t -> t IN ('the','a','of','and','to','in'))) AS BIGINT) AS nstop,
        |    CAST(len(list_distinct(string_split(text,' '))) AS BIGINT) AS ndist,
        |    n_chars
        |  FROM documents),
        |q AS (
        |  SELECT doc_id,
        |    4 * least(n_chars, 500) * ntok
        |      + 1500 * (ntok - nstop) + 1500 * ndist AS num,
        |    CAST(4 * least(n_chars, 500) * ntok
        |         + 1500 * (ntok - nstop) + 1500 * ndist AS DOUBLE)
        |      / (5000 * ntok) AS score,
        |    ntok
        |  FROM c)
        |SELECT doc_id, CAST((num * 10000) // (5000 * ntok) AS BIGINT) AS q4,
        |  CASE WHEN score >= 0.8 THEN 'high'
        |       WHEN score >= 0.6 THEN 'mid' ELSE 'low' END AS tier
        |FROM q ORDER BY doc_id""".stripMargin,
    "j_text_langid" ->
      """WITH tokens AS (
        |  SELECT doc_id, lang, unnest(string_split(text,' ')) AS token
        |  FROM documents),
        |profile AS (
        |  SELECT lang AS p_lang, token FROM (
        |    SELECT lang, token, count(*) AS cnt,
        |      row_number() OVER (PARTITION BY lang
        |        ORDER BY count(*) DESC, token ASC) AS rk
        |    FROM tokens GROUP BY lang, token)
        |  WHERE rk <= 20),
        |votes AS (
        |  SELECT t.doc_id, t.lang, p.p_lang, count(*) AS votes
        |  FROM tokens t JOIN profile p ON t.token = p.token
        |  GROUP BY t.doc_id, t.lang, p.p_lang)
        |SELECT doc_id, lang, p_lang AS pred_lang, votes,
        |  lang = p_lang AS correct
        |FROM votes
        |QUALIFY row_number() OVER (PARTITION BY doc_id
        |  ORDER BY votes DESC, p_lang ASC) = 1
        |ORDER BY doc_id""".stripMargin,
    "j_text_fingerprint" ->
      """SELECT doc_id,
        |  CAST(list_sum(list_transform(string_split(text, ''),
        |    (c, i) -> CAST(ascii(c) AS BIGINT) * i)) % 2147483647 AS BIGINT) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,
    "j_sample_split" ->
      s"""SELECT doc_id, lang,
        |  ${splitBucketSql("doc_id")} AS bucket,
        |  CASE WHEN ${splitBucketSql("doc_id")} < 80 THEN 'train'
        |       WHEN ${splitBucketSql("doc_id")} < 90 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin,

    "j_sample_reservoir" ->
      s"""SELECT doc_id, lang, source, n_chars FROM (
        |  SELECT doc_id, lang, source, n_chars
        |  FROM documents
        |  ORDER BY ${graft.operators.Sketches.lehmerHash("doc_id")}, doc_id
        |  LIMIT 500)
        |ORDER BY doc_id""".stripMargin,
    "j_sample_split_audit" ->
      s"""SELECT split, lang, count(*) AS n FROM (
        |  SELECT lang,
        |    CASE WHEN ${splitBucketSql("doc_id")} < 80 THEN 'train'
        |         WHEN ${splitBucketSql("doc_id")} < 90 THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM documents)
        |GROUP BY split, lang ORDER BY split, lang""".stripMargin,
    "j_text_bpe_count" ->
      """SELECT doc_id,
        |  CAST(len(list_filter(regexp_split_to_array(text, '[^a-z0-9]+'),
        |    w -> len(w) > 0)) AS INT) AS n_words,
        |  CAST(list_sum(list_transform(
        |    list_filter(regexp_split_to_array(text, '[^a-z0-9]+'),
        |      w -> len(w) > 0),
        |    w -> CAST(ceil(len(w) / 4.0) AS BIGINT))) AS BIGINT) AS n_subtokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    // the exact formulation the sketch-then-verify plan must equal:
    // every token above the frequency threshold, exact counts
    "j_text_heavy_hitters" ->
      """WITH tok AS (
        |  SELECT unnest(string_split(text, ' ')) AS token FROM documents),
        |tot AS (SELECT count(*) AS n FROM tok)
        |SELECT token, count(*) AS cnt
        |FROM tok, tot
        |GROUP BY token, n
        |HAVING count(*) > n // 256
        |ORDER BY cnt DESC, token ASC""".stripMargin,
    // same sqrt-flatten + decimal-exact normalizer + integer quota
    "j_sample_temperature" ->
      s"""WITH b AS (
         |  SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
         |sq AS (
         |  SELECT source, n_docs, (CASE WHEN NOT (abs(sqrt(n_docs)) < 9.0e11) THEN (sqrt(n_docs)) WHEN (sqrt(n_docs)) < 0 THEN -(floor(-(sqrt(n_docs)) * 10000 + 0.5) / 10000) ELSE floor((sqrt(n_docs)) * 10000 + 0.5) / 10000 END + 0) AS sw FROM b),
         |t AS (
         |  SELECT ${Det.dsumSql("sw")} AS sw_sum,
         |    SUM(n_docs) // 2 AS n_target FROM sq),
         |q AS (
         |  SELECT source,
         |    CAST(floor(t.n_target * sw / t.sw_sum) AS BIGINT) AS n_keep
         |  FROM sq, t),
         |r AS (
         |  SELECT d.doc_id, d.source, q.n_keep,
         |    row_number() OVER (PARTITION BY d.source ORDER BY d.doc_id) AS rk
         |  FROM documents d JOIN q USING (source))
         |SELECT doc_id, source, n_keep FROM r
         |WHERE rk <= n_keep ORDER BY doc_id""".stripMargin,
    // identical Lehmer-uniform + inverse-weight-power key derivation
    "j_sample_weighted" ->
      """WITH t AS (
        |  SELECT doc_id, n_chars,
        |    CAST(((doc_id % 2147483647) * 48271) % 2147483647 AS DOUBLE)
        |      / 2147483647.0 AS u
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, n_chars, pow(u, 1.0 / n_chars) AS key FROM t),
        |ranked AS (
        |  SELECT doc_id, n_chars, key,
        |    row_number() OVER (ORDER BY key DESC, doc_id ASC) AS rn
        |  FROM r)
        |SELECT doc_id, n_chars, (CASE WHEN NOT (abs(key) < 9.0e11) THEN (key) WHEN (key) < 0 THEN -(floor(-(key) * 10000 + 0.5) / 10000) ELSE floor((key) * 10000 + 0.5) / 10000 END + 0) AS key, CAST(rn AS INT) AS rn
        |FROM ranked WHERE rn <= 100 ORDER BY rn""".stripMargin,
    // the same contiguous-packing algebra as the Spark entry: running
    // token offset per source, sequence = offset // budget
    "j_pack_sequences" ->
      """WITH t AS (
        |  SELECT source, doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        |  FROM documents),
        |c AS (
        |  SELECT source, doc_id, n_tok,
        |    sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM t)
        |SELECT source, CAST((cum - n_tok) // 512 AS BIGINT) AS seq_id,
        |  count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens,
        |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM c GROUP BY source, CAST((cum - n_tok) // 512 AS BIGINT)
        |ORDER BY source, seq_id""".stripMargin,
    "j_dedup_url" ->
      """WITH raw AS (
        |  SELECT doc_id,
        |    'https://src' || CAST((doc_id // 4) % 10 AS VARCHAR)
        |    || CASE WHEN doc_id % 4 = 0 THEN '.Example.COM'
        |            ELSE '.example.com' END
        |    || CASE WHEN doc_id % 4 = 1 THEN ':443' ELSE '' END
        |    || '/docs/' || CAST(doc_id // 4 AS VARCHAR)
        |    || CASE WHEN doc_id % 4 = 3 THEN '/' ELSE '' END
        |    || CASE WHEN doc_id % 4 = 0 THEN '?utm_source=x&utm_medium=z'
        |            WHEN doc_id % 4 = 2 THEN '?utm_campaign=y'
        |            ELSE '' END AS raw
        |  FROM documents),
        |canon AS (
        |  SELECT doc_id,
        |    regexp_replace(regexp_replace(regexp_replace(lower(raw),
        |      ':443/', '/'),
        |      '[?&]utm_[a-z_]+=[^&]*', '', 'g'),
        |      '/$', '') AS canonical
        |  FROM raw)
        |SELECT canonical, count(*) AS n_variants,
        |  min(doc_id) AS survivor
        |FROM canon GROUP BY canonical ORDER BY canonical""".stripMargin,
    "j_quality_filter_percentile" ->
      """WITH c AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(text,' ')) AS BIGINT) AS ntok,
        |    CAST(len(list_filter(string_split(text,' '),
        |      t -> t IN ('the','a','of','and','to','in'))) AS BIGINT) AS nstop,
        |    CAST(len(list_distinct(string_split(text,' '))) AS BIGINT) AS ndist,
        |    n_chars
        |  FROM documents),
        |s AS (
        |  SELECT doc_id,
        |    CAST((4 * least(n_chars, 500) * ntok
        |          + 1500 * (ntok - nstop) + 1500 * ndist) * 10000
        |         // (5000 * ntok) AS BIGINT) AS q4
        |  FROM c),
        |thr AS (SELECT quantile_cont(q4, 0.25) AS thr FROM s)
        |SELECT doc_id, q4 FROM s, thr WHERE q4 >= thr
        |ORDER BY doc_id""".stripMargin,
    "j_shuffle_epoch" ->
      """SELECT doc_id, ord % 16 AS shard, ord
        |FROM (SELECT doc_id,
        |        (((doc_id + 7) % 2147483647) * 48271) % 2147483647 AS ord
        |      FROM documents)
        |ORDER BY shard, ord, doc_id""".stripMargin,
    "j_pii_scrub" ->
      s"""WITH e AS (
         |  SELECT doc_id, text
         |    || CASE WHEN doc_id % 3 = 0 THEN ' contact u'
         |         || CAST(doc_id AS VARCHAR) || '@mail.example.com'
         |       ELSE '' END
         |    || CASE WHEN doc_id % 4 = 0 THEN ' call 555-'
         |         || lpad(CAST(doc_id * 7919 % 10000000 AS VARCHAR), 7, '0')
         |       ELSE '' END
         |    || CASE WHEN doc_id % 5 = 0 THEN ' id 123-45-6789'
         |       ELSE '' END AS enriched
         |  FROM documents)
         |SELECT doc_id,
         |  regexp_replace(regexp_replace(regexp_replace(enriched,
         |    '$PiiEmailPat', '<EMAIL>', 'g'),
         |    '$PiiIdPat', '<ID>', 'g'),
         |    '$PiiPhonePat', '<PHONE>', 'g') AS scrubbed,
         |  CAST(len(regexp_extract_all(enriched, '$PiiEmailPat')) AS BIGINT)
         |    AS n_email,
         |  CAST(len(regexp_extract_all(enriched, '$PiiPhonePat')) AS BIGINT)
         |    AS n_phone,
         |  CAST(len(regexp_extract_all(enriched, '$PiiIdPat')) AS BIGINT)
         |    AS n_id
         |FROM e ORDER BY doc_id""".stripMargin,
    "j_text_zipf" ->
      s"""WITH tf AS (
        |  SELECT term, count(*) AS freq
        |  FROM (SELECT unnest(string_split(text, ' ')) AS term
        |        FROM documents)
        |  GROUP BY term),
        |tot AS (SELECT CAST(sum(freq) AS BIGINT) AS total FROM tf),
        |top AS (
        |  SELECT term, freq,
        |    row_number() OVER (ORDER BY freq DESC, term ASC) AS rank
        |  FROM tf ORDER BY freq DESC, term ASC LIMIT 50)
        |SELECT CAST(rank AS INT) AS rank, term, freq,
        |  ${Det.r4RatioSql("freq", "total", "//")} AS share
        |FROM top, tot ORDER BY rank""".stripMargin,
    // integer-rounded average (r13): same micros/half-away formula as
    // the Spark side — Det.r4AvgMicrosSql, "//" = DuckDB integer div
    "j_text_unigram_lm" ->
      s"""WITH tok AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
         |  FROM documents),
         |lm AS (SELECT term, count(*) AS cnt FROM tok GROUP BY term),
         |tot AS (SELECT count(*) AS total FROM tok),
         |per AS (
         |  SELECT doc_id,
         |    CAST(SUM(CAST(ln(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE))
         |      AS DECIMAL(20,6))) * 1000000 AS BIGINT) AS sm,
         |    COUNT(*) AS n
         |  FROM tok JOIN lm USING (term) CROSS JOIN tot
         |  GROUP BY doc_id)
         |SELECT doc_id, ${Det.r4AvgMicrosSql("//")} AS lm_score
         |FROM per ORDER BY doc_id""".stripMargin,
    // stage-for-stage twin of bigramLmScore: same pair derivation
    // (prev NULL at position 1), same 80/20 Lehmer split, same
    // backoff arithmetic with every literal cast to DOUBLE so both
    // engines run identical IEEE expressions
    "j_text_bigram_lm" ->
      s"""$bigramLmCte
         |SELECT doc_id, lm_score FROM scores ORDER BY doc_id""".stripMargin,
    // same scores CTE + the quantile gate
    "j_quality_lm_filter" ->
      s"""$bigramLmCte,
         |thr AS (SELECT quantile_cont(lm_score, 0.25) AS thr FROM scores)
         |SELECT doc_id, lm_score FROM scores, thr
         |WHERE lm_score >= thr ORDER BY doc_id""".stripMargin,
    // twin of j_quality_classifier: the graft_polyhash arithmetic
    // rebuilt with list_reduce (as in the simhash twin), then the
    // identical bucket → Lehmer-surrogate-weight → integer-sum chain
    "j_quality_classifier" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |  FROM documents),
        |tk AS (SELECT doc_id, token FROM tok WHERE token <> ''),
        |h AS (
        |  SELECT doc_id,
        |    list_reduce(list_transform(string_split(token, ''),
        |      c -> CAST(ascii(c) AS BIGINT)),
        |      (a, b) -> (a * 31 + b) % 2147483647) AS h1,
        |    list_reduce(list_transform(string_split(token, ''),
        |      c -> CAST(ascii(c) AS BIGINT)),
        |      (a, b) -> (a * 131 + b) % 2147483647) AS h2
        |  FROM tk),
        |w AS (
        |  SELECT doc_id,
        |    (((((((h1 * 48271) % 2147483647) << 31)
        |         | ((h2 * 16807) % 2147483647)) % 1024 + 1)
        |       * 48271 % 2147483647) % 2001) - 1000 AS w
        |  FROM h)
        |SELECT doc_id, count(*) AS n_feat,
        |  CAST(sum(w) AS BIGINT) AS score_sum,
        |  CAST(CASE WHEN sum(w) >= 0 THEN 1 ELSE 0 END AS INT) AS keep
        |FROM w GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // twin of j_quality_centroid: identical feature extraction
    // (regexp_replace with the 'g' flag = Spark's global default),
    // the same div/mod half-up micros means, and the same squared
    // distances — in HUGEINT, where Spark uses DECIMAL(38,0); the
    // NUMBERS are equal, and only the integer prediction is hashed
    "j_quality_centroid" ->
      s"""WITH f AS (
         |  SELECT doc_id,
         |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS cls,
         |    LEAST(length(text), 1000000) AS x1,
         |    LEAST(len(list_filter(string_split(text, ' '),
         |      t -> t <> '')), 1000000) AS x2,
         |    LEAST(length(text) - length(regexp_replace(text,
         |      '[.,;:!?]', '', 'g')), 1000000) AS x3,
         |    LEAST(length(text) - length(regexp_replace(text,
         |      '[0-9]', '', 'g')), 1000000) AS x4,
         |    LEAST(length(text) - length(regexp_replace(text,
         |      '[A-Z]', '', 'g')), 1000000) AS x5
         |  FROM documents),
         |cent AS (
         |  SELECT cls, count(*) AS n,
         |    sum(x1) AS s1, sum(x2) AS s2, sum(x3) AS s3,
         |    sum(x4) AS s4, sum(x5) AS s5
         |  FROM f WHERE ${splitBucketSql("doc_id")} < 80 GROUP BY cls),
         |cq AS (
         |  SELECT cls,
         |    1000000 * (s1 // n) + (2000000 * (s1 % n) + n) // (2 * n) AS m1,
         |    1000000 * (s2 // n) + (2000000 * (s2 % n) + n) // (2 * n) AS m2,
         |    1000000 * (s3 // n) + (2000000 * (s3 % n) + n) // (2 * n) AS m3,
         |    1000000 * (s4 // n) + (2000000 * (s4 % n) + n) // (2 * n) AS m4,
         |    1000000 * (s5 // n) + (2000000 * (s5 % n) + n) // (2 * n) AS m5
         |  FROM cent),
         |cw AS (
         |  SELECT
         |    max(CASE WHEN cls = 0 THEN m1 END) AS c01,
         |    max(CASE WHEN cls = 0 THEN m2 END) AS c02,
         |    max(CASE WHEN cls = 0 THEN m3 END) AS c03,
         |    max(CASE WHEN cls = 0 THEN m4 END) AS c04,
         |    max(CASE WHEN cls = 0 THEN m5 END) AS c05,
         |    max(CASE WHEN cls = 1 THEN m1 END) AS c11,
         |    max(CASE WHEN cls = 1 THEN m2 END) AS c12,
         |    max(CASE WHEN cls = 1 THEN m3 END) AS c13,
         |    max(CASE WHEN cls = 1 THEN m4 END) AS c14,
         |    max(CASE WHEN cls = 1 THEN m5 END) AS c15
         |  FROM cq),
         |scored AS (
         |  SELECT doc_id, cls,
         |    CAST(1000000*x1 - c01 AS HUGEINT) * CAST(1000000*x1 - c01 AS HUGEINT)
         |    + CAST(1000000*x2 - c02 AS HUGEINT) * CAST(1000000*x2 - c02 AS HUGEINT)
         |    + CAST(1000000*x3 - c03 AS HUGEINT) * CAST(1000000*x3 - c03 AS HUGEINT)
         |    + CAST(1000000*x4 - c04 AS HUGEINT) * CAST(1000000*x4 - c04 AS HUGEINT)
         |    + CAST(1000000*x5 - c05 AS HUGEINT) * CAST(1000000*x5 - c05 AS HUGEINT)
         |      AS d0,
         |    CAST(1000000*x1 - c11 AS HUGEINT) * CAST(1000000*x1 - c11 AS HUGEINT)
         |    + CAST(1000000*x2 - c12 AS HUGEINT) * CAST(1000000*x2 - c12 AS HUGEINT)
         |    + CAST(1000000*x3 - c13 AS HUGEINT) * CAST(1000000*x3 - c13 AS HUGEINT)
         |    + CAST(1000000*x4 - c14 AS HUGEINT) * CAST(1000000*x4 - c14 AS HUGEINT)
         |    + CAST(1000000*x5 - c15 AS HUGEINT) * CAST(1000000*x5 - c15 AS HUGEINT)
         |      AS d1
         |  FROM f, cw WHERE ${splitBucketSql("doc_id")} >= 80)
         |SELECT doc_id, CAST(cls AS BIGINT) AS actual,
         |  CAST(CASE WHEN d1 < d0 THEN 1 ELSE 0 END AS BIGINT) AS pred,
         |  CAST(CASE WHEN (CASE WHEN d1 < d0 THEN 1 ELSE 0 END) = cls
         |    THEN 1 ELSE 0 END AS BIGINT) AS correct
         |FROM scored ORDER BY doc_id""".stripMargin,

    // stage-for-stage twin of chargramProfile/chargramPredictions:
    // same trigram extraction (1-based positions 1..len-2), same
    // 80/20 Lehmer split, same (count desc, trigram asc) rank
    // tie-breaks, same out-of-place penalty 40 and (dist, p_lang)
    // argmin tie-break — all-integer output, hash-exact
    "j_langid_chargram" ->
      s"""WITH tr AS (
         |  SELECT lang,
         |    unnest(list_transform(range(1, length(text)-1),
         |      i -> substring(text, CAST(i AS INT), 3))) AS tg
         |  FROM documents
         |  WHERE ${splitBucketSql("doc_id")} < 80 AND length(text) >= 3),
         |prof AS (
         |  SELECT lang AS p_lang, tg,
         |    row_number() OVER (PARTITION BY lang
         |      ORDER BY count(*) DESC, tg ASC) AS prk
         |  FROM tr GROUP BY lang, tg),
         |profk AS (SELECT * FROM prof WHERE prk <= 40),
         |sc AS (
         |  SELECT doc_id, lang,
         |    unnest(list_transform(range(1, length(text)-1),
         |      i -> substring(text, CAST(i AS INT), 3))) AS tg
         |  FROM documents
         |  WHERE ${splitBucketSql("doc_id")} >= 80 AND length(text) >= 3),
         |dprof AS (
         |  SELECT doc_id, lang, tg,
         |    row_number() OVER (PARTITION BY doc_id
         |      ORDER BY count(*) DESC, tg ASC) AS drk
         |  FROM sc GROUP BY doc_id, lang, tg),
         |dk AS (SELECT * FROM dprof WHERE drk <= 20),
         |langs AS (SELECT DISTINCT p_lang FROM profk),
         |dist AS (
         |  SELECT dk.doc_id, dk.lang, langs.p_lang,
         |    CAST(sum(coalesce(abs(dk.drk - p.prk), 40)) AS BIGINT) AS dist
         |  FROM dk CROSS JOIN langs
         |  LEFT JOIN profk p ON p.p_lang = langs.p_lang AND p.tg = dk.tg
         |  GROUP BY 1, 2, 3),
         |pred AS (
         |  SELECT doc_id, lang, p_lang, dist,
         |    row_number() OVER (PARTITION BY doc_id
         |      ORDER BY dist ASC, p_lang ASC) AS rk
         |  FROM dist)
         |SELECT doc_id, lang, p_lang AS pred_lang, dist
         |FROM pred WHERE rk = 1 ORDER BY doc_id""".stripMargin,

    "j_doc_chunk" ->
      """WITH idx AS (
        |  SELECT doc_id, text,
        |    unnest(generate_series(0, greatest(0,
        |      CAST(ceil((length(text) - 120) / 90.0) AS BIGINT))))
        |      AS chunk_idx
        |  FROM documents)
        |SELECT doc_id, chunk_idx,
        |  substring(text, CAST(chunk_idx * 90 + 1 AS INT), 120)
        |    AS chunk_text,
        |  CAST(length(substring(text, CAST(chunk_idx * 90 + 1 AS INT),
        |    120)) AS INT) AS chunk_len
        |FROM idx ORDER BY doc_id, chunk_idx""".stripMargin,

    "j_corpus_report" ->
      s"""SELECT source, count(*) AS n_docs,
         |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
         |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tok,
         |  ${Det.davgSql("n_chars")} AS avg_chars,
         |  CAST(count(*) - count(DISTINCT md5(text)) AS BIGINT)
         |    AS n_exact_dups
         |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    "j_dedup_lines" ->
      """WITH segs AS (
        |  SELECT doc_id,
        |    unnest(generate_series(0,
        |      CAST(floor((len(string_split(text, ' ')) - 1) / 5.0)
        |        AS BIGINT))) AS si,
        |    string_split(text, ' ') AS tk
        |  FROM documents),
        |seg AS (
        |  SELECT doc_id,
        |    md5(array_to_string(list_slice(tk, CAST(si*5 + 1 AS INT),
        |      CAST(si*5 + 5 AS INT)), ' ')) AS fp
        |  FROM segs),
        |cnt AS (SELECT fp, count(*) AS c FROM seg GROUP BY fp)
        |SELECT seg.doc_id, count(*) AS n_segments,
        |  count(CASE WHEN cnt.c >= 3 THEN 1 END) AS n_removed
        |FROM seg JOIN cnt USING (fp)
        |GROUP BY seg.doc_id ORDER BY seg.doc_id""".stripMargin,

    "j_dedup_lines_apply" ->
      """WITH segs AS (
        |  SELECT doc_id,
        |    unnest(generate_series(0,
        |      CAST(floor((len(string_split(text, ' ')) - 1) / 5.0)
        |        AS BIGINT))) AS si,
        |    string_split(text, ' ') AS tk
        |  FROM documents),
        |seg AS (
        |  SELECT doc_id, si,
        |    array_to_string(list_slice(tk, CAST(si*5 + 1 AS INT),
        |      CAST(si*5 + 5 AS INT)), ' ') AS s
        |  FROM segs),
        |cnt AS (SELECT md5(s) AS fp, count(*) AS c FROM seg GROUP BY fp)
        |SELECT seg.doc_id,
        |  CAST(count(CASE WHEN cnt.c < 3 THEN 1 END) AS INT) AS n_kept,
        |  coalesce(md5(string_agg(CASE WHEN cnt.c < 3 THEN seg.s END,
        |    ' ' ORDER BY seg.si)), md5('')) AS cleaned_md5
        |FROM seg JOIN cnt ON md5(seg.s) = cnt.fp
        |GROUP BY seg.doc_id ORDER BY seg.doc_id""".stripMargin,

    "j_text_collocations" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |pairs AS (
        |  SELECT tk[CAST(i AS INT)] AS prev, tk[CAST(i + 1 AS INT)] AS cur
        |  FROM toks,
        |    LATERAL (SELECT unnest(generate_series(1, len(tk) - 1)) AS i) g),
        |uni AS (
        |  SELECT cur AS tok, count(*) AS uc FROM (
        |    SELECT unnest(string_split(text, ' ')) AS cur FROM documents)
        |  GROUP BY tok),
        |tot AS (SELECT count(*) AS n FROM (
        |  SELECT unnest(string_split(text, ' ')) FROM documents)),
        |big AS (
        |  SELECT prev, cur, count(*) AS bc FROM pairs GROUP BY prev, cur)
        |SELECT b.prev, b.cur, b.bc,
        |  (CASE WHEN NOT (abs(ln(CAST(b.bc AS DOUBLE) * t.n /
        |    (CAST(u1.uc AS DOUBLE) * u2.uc))) < 9.0e11) THEN (ln(CAST(b.bc AS DOUBLE) * t.n /
        |    (CAST(u1.uc AS DOUBLE) * u2.uc))) WHEN (ln(CAST(b.bc AS DOUBLE) * t.n /
        |    (CAST(u1.uc AS DOUBLE) * u2.uc))) < 0 THEN -(floor(-(ln(CAST(b.bc AS DOUBLE) * t.n /
        |    (CAST(u1.uc AS DOUBLE) * u2.uc))) * 10000 + 0.5) / 10000) ELSE floor((ln(CAST(b.bc AS DOUBLE) * t.n /
        |    (CAST(u1.uc AS DOUBLE) * u2.uc))) * 10000 + 0.5) / 10000 END + 0) AS pmi
        |FROM big b
        |JOIN uni u1 ON b.prev = u1.tok
        |JOIN uni u2 ON b.cur = u2.tok, tot t
        |WHERE b.bc >= 5
        |ORDER BY pmi DESC, b.prev, b.cur LIMIT 20""".stripMargin,

    "j_corpus_drift" ->
      s"""WITH tk AS (
         |  SELECT CASE WHEN ${splitBucketSql("doc_id")} < 80
         |      THEN 'a' ELSE 'b' END AS half,
         |    unnest(string_split(text, ' ')) AS tok
         |  FROM documents),
         |c AS (SELECT half, tok, count(*) AS c FROM tk GROUP BY half, tok),
         |tot AS (SELECT half, sum(c) AS t FROM c GROUP BY half),
         |p AS (
         |  SELECT tok,
         |    max(CASE WHEN c.half = 'a'
         |      THEN CAST(c AS DOUBLE) / t END) AS pa,
         |    max(CASE WHEN c.half = 'b'
         |      THEN CAST(c AS DOUBLE) / t END) AS pb
         |  FROM c JOIN tot ON c.half = tot.half GROUP BY tok)
         |SELECT (CASE WHEN NOT (abs(CAST(SUM(CAST(
         |    0.5 * (CASE WHEN pa IS NULL OR pa = 0 THEN 0
         |      ELSE pa * ln(pa / ((coalesce(pa,0) + coalesce(pb,0)) / 2))
         |      END)
         |  + 0.5 * (CASE WHEN pb IS NULL OR pb = 0 THEN 0
         |      ELSE pb * ln(pb / ((coalesce(pa,0) + coalesce(pb,0)) / 2))
         |      END) AS DECIMAL(24,12))) AS DOUBLE)) < 9.0e11) THEN (CAST(SUM(CAST(
         |    0.5 * (CASE WHEN pa IS NULL OR pa = 0 THEN 0
         |      ELSE pa * ln(pa / ((coalesce(pa,0) + coalesce(pb,0)) / 2))
         |      END)
         |  + 0.5 * (CASE WHEN pb IS NULL OR pb = 0 THEN 0
         |      ELSE pb * ln(pb / ((coalesce(pa,0) + coalesce(pb,0)) / 2))
         |      END) AS DECIMAL(24,12))) AS DOUBLE)) WHEN (CAST(SUM(CAST(
         |    0.5 * (CASE WHEN pa IS NULL OR pa = 0 THEN 0
         |      ELSE pa * ln(pa / ((coalesce(pa,0) + coalesce(pb,0)) / 2))
         |      END)
         |  + 0.5 * (CASE WHEN pb IS NULL OR pb = 0 THEN 0
         |      ELSE pb * ln(pb / ((coalesce(pa,0) + coalesce(pb,0)) / 2))
         |      END) AS DECIMAL(24,12))) AS DOUBLE)) < 0 THEN -(floor(-(CAST(SUM(CAST(
         |    0.5 * (CASE WHEN pa IS NULL OR pa = 0 THEN 0
         |      ELSE pa * ln(pa / ((coalesce(pa,0) + coalesce(pb,0)) / 2))
         |      END)
         |  + 0.5 * (CASE WHEN pb IS NULL OR pb = 0 THEN 0
         |      ELSE pb * ln(pb / ((coalesce(pa,0) + coalesce(pb,0)) / 2))
         |      END) AS DECIMAL(24,12))) AS DOUBLE)) * 10000 + 0.5) / 10000) ELSE floor((CAST(SUM(CAST(
         |    0.5 * (CASE WHEN pa IS NULL OR pa = 0 THEN 0
         |      ELSE pa * ln(pa / ((coalesce(pa,0) + coalesce(pb,0)) / 2))
         |      END)
         |  + 0.5 * (CASE WHEN pb IS NULL OR pb = 0 THEN 0
         |      ELSE pb * ln(pb / ((coalesce(pa,0) + coalesce(pb,0)) / 2))
         |      END) AS DECIMAL(24,12))) AS DOUBLE)) * 10000 + 0.5) / 10000 END + 0) AS js_nats,
         |  count(*) AS vocab
         |FROM p""".stripMargin
  )
}
