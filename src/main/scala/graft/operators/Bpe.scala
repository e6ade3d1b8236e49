package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Op
import graft.model.Tables

/** Byte-pair-encoding tokenizer training — the merge loop [[TextOps]]'s
  * `vocab_build` is the precursor stage for (its bigram counts ARE round
  * 1's candidate scores, lifted from words to symbols). `bpe_train` learns
  * the ranked merge table (Sennrich et al. 2016: repeatedly fuse the
  * most frequent adjacent symbol pair, chars + `</w>` upward) and
  * `bpe_encode` applies it back to the corpus — the train→apply loop of a
  * real tokenizer pipeline, same shape as `kmeans_train`→`ann_ivf_trained`.
  *
  * PORTABLE MERGE ALGEBRA — the whole trainer rides one string form: a
  * symbol sequence is kept as `' s1  s2  ...  sn '` (every symbol bounded
  * by single spaces, neighbours separated by a DOUBLE space; symbols are
  * `[a-z]`/`</w>` concatenations so space never appears inside one). On
  * that form, one BPE merge round is ONE literal `replace(s, ' l  r ',
  * ' lr ')`: leftmost non-overlapping replacement with both boundary
  * spaces anchored is EXACTLY greedy left-to-right pair merging (a run
  * `' a  a  a  a '` becomes `' aa  aa '` in one call because no match
  * consumes its neighbour's boundary), and Spark and DuckDB share the
  * replace semantics byte for byte. No lambda folds, no UDFs — each round
  * is whole-stage-codegen'd string algebra.
  *
  * Scale shape: the trainer never touches the token stream after the
  * first count — it iterates over the DISTINCT word list weighted by
  * frequency (capped at the [[VocabCap]] most frequent words, the
  * standard trainer working-set bound; `orderBy.limit` is a distributed
  * partial top-k, not a global sort). Per round: one vocabulary-sized
  * pair-count shuffle + a 1-row `limit(1)` collect (the kmeans precedent
  * for driver-resident state: [[Merges]] rows total) + a map-only
  * replace. At 100 TB the per-round cost is O(|vocab|·|word|), and
  * Heaps' law keeps |vocab| sublinear in corpus size. `bpe_encode`
  * computes per-word token counts once on the distinct-word frame and
  * broadcast-joins them onto the exploded corpus — map-side at any
  * corpus size, one doc_id exchange for the per-doc sums.
  */
object Bpe {

  /** Fixed merge-round count — determinism is the contract (ties broken
    * by (count DESC, lhs, rhs) identically in both engines).
    */
  val Merges = 8

  /** Trainer working-set cap: the most frequent distinct words, standard
    * BPE-trainer optimization (rare-tail words cannot move a pair count
    * above a frequent pair's). Encoding is NOT capped — every corpus word
    * goes through the learned merge chain.
    */
  val VocabCap = 5000

  // ------------------------------------------------------------- Spark side

  private[graft] def corpusWords(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        explode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("word"))

  /** `word -> ' c1  c2  ...  </w> '` (the wrapped char-symbol form). */
  private val wrapSql =
    "concat(' ', array_join(concat(transform(sequence(1, length(word)), " +
      "i -> substring(word, i, 1)), array('</w>')), '  '), ' ')"

  /** Adjacent-pair counts over the wrapped form, frequency-weighted:
    * zip(t[1..n-1], t[2..n]) explode + ONE (lhs, rhs) groupBy with
    * map-side partials — the exchange carries pair-vocabulary rows.
    */
  private def pairCounts(seqs: DataFrame): DataFrame =
    seqs.select(col("freq"), split(trim(col("s")), "  ").as("t"))
      .select(col("freq"), explode(expr(
        "zip_with(slice(t, 1, size(t) - 1), slice(t, 2, size(t) - 1), " +
          "(x, y) -> named_struct('lhs', x, 'rhs', y))")).as("p"))
      .groupBy(col("p.lhs").as("lhs"), col("p.rhs").as("rhs"))
      .agg(sum("freq").as("cnt"))

  /** TRAIN ONCE, REUSE EVERYWHERE (the [[Similarity]] Lloyd-cache
    * precedent): the merge trajectory is deterministic per corpus dir, so
    * `bpe_train` and `bpe_encode` share one training per JVM. Entries are
    * [[Merges]] small tuples.
    */
  private val mergeCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Int), Seq[(Int, String, String, Long)]]()

  /** Harness-only: ClusterSmoke re-trains under forked-executor JVMs and
    * must not read this JVM's memo.
    */
  private[graft] def clearMergeCache(): Unit = mergeCache.clear()

  private[graft] def trainedMerges(spark: SparkSession, dir: String)
      : Seq[(Int, String, String, Long)] =
    trainedMergesN(spark, dir, Merges)

  /** Rounds-parameterized trainer (the `graft.Tune bpe` sweep surface).
    * The merge sequence is PREFIX-STABLE: round r depends only on rounds
    * 1..r-1, so `trainedMergesN(n)` is the first n rows of any longer
    * training — a sweep trains once at its maximum and slices.
    */
  private[graft] def trainedMergesN(spark: SparkSession, dir: String, rounds: Int)
      : Seq[(Int, String, String, Long)] = {
    val cached = mergeCache.get((dir, rounds))
    if (cached != null) return cached
    // The capped word list + its wrapped form is the frame every round
    // re-reads; persist it for the loop, free it (blocking) after.
    val base = corpusWords(spark, dir)
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("word")).limit(VocabCap)
      .withColumn("s", expr(wrapSql))
      .persist()
    try {
      val out = Seq.newBuilder[(Int, String, String, Long)]
      var seqs: DataFrame = base
      var r = 1
      var exhausted = false
      while (r <= rounds && !exhausted) {
        val top = pairCounts(seqs)
          .orderBy(col("cnt").desc, col("lhs"), col("rhs")).limit(1).collect()
        if (top.isEmpty) exhausted = true // no adjacent pairs left anywhere
        else {
          val (l, rr, c) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
          out += ((r, l, rr, c))
          // symbols are [a-z</>]+ — safe to splice into a SQL literal
          seqs = seqs.withColumn("s", expr(s"replace(s, ' $l  $rr ', ' $l$rr ')"))
          r += 1
        }
      }
      val merges = out.result()
      mergeCache.putIfAbsent((dir, rounds), merges)
      merges
    } finally base.unpersist(blocking = true)
  }

  /** The composed apply chain for a merge table: one nested-replace SQL
    * expression over the wrapped form — shared by [[bpeEncode]] and the
    * `graft.Tune bpe` sweep.
    */
  private[graft] def applyChainSql(merges: Seq[(Int, String, String, Long)]): String =
    merges.foldLeft(wrapSql) {
      case (e, (_, l, r, _)) => s"replace($e, ' $l  $r ', ' $l$r ')"
    }

  /** The learned merge table, rank-ordered — the artifact a tokenizer
    * ships (one row per merge: step, the fused pair, its corpus count).
    */
  def bpeTrain(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    trainedMerges(spark, dir)
      .map { case (s, l, r, c) => (s, l, r, l + r, c) }
      .toDF("step", "lhs", "rhs", "merged", "pair_freq")
  }

  /** Tokenize the corpus with the learned merges: per-word symbol counts
    * come from ONE composed replace chain over the distinct-word frame
    * (vocabulary-sized, map-only), broadcast back onto the exploded
    * corpus; the only exchange is the per-doc sum.
    */
  def bpeEncode(spark: SparkSession, dir: String): DataFrame = {
    val chain = applyChainSql(trainedMerges(spark, dir))
    val wtok = corpusWords(spark, dir).select("word").distinct()
      .withColumn("n_sym",
        expr(s"cast(size(split(trim($chain), '  ')) as bigint)"))
    corpusWords(spark, dir)
      .join(broadcast(wtok), "word")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum("n_sym").as("n_tokens"))
      .select(col("doc_id"), col("n_words"), col("n_tokens"),
        round(col("n_tokens") / col("n_words"), 6).as("tokens_per_word"))
  }

  // ----------------------------------------------------------- DuckDB side

  /** The shared trainer CTE chain (words → seq0 → [p_r, top_r, seq_r]*),
    * prefix-parameterized like the sketch-family builders so `bpe_train`
    * and `bpe_encode` compose the SAME SQL and cannot drift. LEFT JOIN ON
    * true + coalesce keeps a round with no pairs a no-op (mirrors the
    * Spark loop's early stop) instead of annihilating the chain.
    */
  private[graft] def mergeCtes(p: String): String = {
    val rounds = (1 to Merges).map { r =>
      val prev = if (r == 1) s"${p}seq0" else s"${p}seq${r - 1}"
      s"""${p}p$r AS (
         |  SELECT lhs, rhs, CAST(sum(freq) AS BIGINT) AS cnt
         |  FROM (SELECT freq, unnest(t[1:len(t)-1]) AS lhs, unnest(t[2:len(t)]) AS rhs
         |        FROM (SELECT freq, string_split(trim(s), '  ') AS t FROM $prev))
         |  GROUP BY 1, 2
         |),
         |${p}top$r AS MATERIALIZED (SELECT lhs, rhs, cnt FROM ${p}p$r ORDER BY cnt DESC, lhs, rhs LIMIT 1),
         |${p}seq$r AS MATERIALIZED (
         |  SELECT word, freq,
         |         replace(s, coalesce(' ' || lhs || '  ' || rhs || ' ', chr(1)),
         |                    coalesce(' ' || lhs || rhs || ' ', '')) AS s
         |  FROM $prev LEFT JOIN ${p}top$r ON true
         |)""".stripMargin
    }
    s"""${p}words AS MATERIALIZED (
       |  SELECT w AS word, CAST(count(*) AS BIGINT) AS freq
       |  FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w FROM documents)
       |  GROUP BY 1 ORDER BY freq DESC, word LIMIT $VocabCap
       |),
       |${p}seq0 AS MATERIALIZED (
       |  SELECT word, freq,
       |         ' ' || array_to_string(list_append([word[i] for i in generate_series(1, len(word))], '</w>'), '  ') || ' ' AS s
       |  FROM ${p}words
       |),
       |${rounds.mkString(",\n")}""".stripMargin
  }

  private val trainSql: String =
    s"""WITH ${mergeCtes("bpe_")}
       |${(1 to Merges).map(r =>
        s"SELECT CAST($r AS INT) AS step, lhs, rhs, lhs || rhs AS merged, cnt AS pair_freq FROM bpe_top$r")
        .mkString("\nUNION ALL\n")}""".stripMargin

  private[graft] val encodeSql: String = {
    val applies = (1 to Merges).map { r =>
      val prev = if (r == 1) "bpe_e0" else s"bpe_e${r - 1}"
      s"""bpe_e$r AS MATERIALIZED (
         |  SELECT word, replace(s, coalesce(' ' || lhs || '  ' || rhs || ' ', chr(1)),
         |                          coalesce(' ' || lhs || rhs || ' ', '')) AS s
         |  FROM $prev LEFT JOIN bpe_top$r ON true
         |)""".stripMargin
    }
    s"""WITH ${mergeCtes("bpe_")},
       |bpe_allw AS (
       |  SELECT DISTINCT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word FROM documents
       |),
       |bpe_e0 AS (
       |  SELECT word,
       |         ' ' || array_to_string(list_append([word[i] for i in generate_series(1, len(word))], '</w>'), '  ') || ' ' AS s
       |  FROM bpe_allw
       |),
       |${applies.mkString(",\n")},
       |bpe_wtok AS MATERIALIZED (SELECT word, CAST(len(string_split(trim(s), '  ')) AS BIGINT) AS n_sym FROM bpe_e$Merges),
       |bpe_docw AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word FROM documents)
       |SELECT d.doc_id, CAST(count(*) AS BIGINT) AS n_words,
       |       CAST(sum(w.n_sym) AS BIGINT) AS n_tokens,
       |       round(CAST(sum(w.n_sym) AS DOUBLE) / count(*), 6) AS tokens_per_word
       |FROM bpe_docw d JOIN bpe_wtok w USING (word)
       |GROUP BY 1""".stripMargin
  }

  def ops: Seq[Op] = Seq(
    Op("bpe_train", bpeTrain, Some(trainSql)),
    Op("bpe_encode", bpeEncode, Some(encodeSql)))
}
