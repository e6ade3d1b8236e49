package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Op
import graft.model.{Portable, Tables}

/** Document deduplication for large-scale training-data pipelines: exact,
  * n-gram Jaccard, MinHash+LSH banding, and SimHash — each over the
  * `documents` table, each with a full DuckDB oracle.
  *
  * Scale posture (100 TB): nothing ever groups or joins on raw document
  * text — exact dedup groups on a 16-byte md5; candidate generation for
  * near-dup goes through LSH band buckets (minhash) or 15-bit pieces
  * (simhash), so the quadratic all-pairs product is confined to colliding
  * buckets. `dedup_ngram_jaccard` is the exact baseline the sketches are
  * validated against; the sketch variants are the ones you run at scale.
  */
object Dedup {
  import Portable._

  // ------------------------------------------------------------ shared pieces

  /** Distinct word-3-gram shingle features per document — the feature set
    * shared by Jaccard, MinHash and SimHash, carried as the PORTABLE
    * 60-bit md5 hash from the very first projection. Hashing BEFORE the
    * distinct means every downstream exchange (the dedupe itself, the df
    * window, the bucket groupBys) moves fixed 8-byte keys instead of
    * ~25-char shingle text — at 100 TB the shingle set is the biggest
    * thing this file shuffles. A 60-bit collision merges the same two
    * shingles in BOTH engines (the oracle hashes identically), so the
    * compare cannot drift. Texts are single-space word streams.
    */
  private def shingles(spark: SparkSession, dir: String): DataFrame =
    shinglesFrom(Tables.documents(spark, dir))

  private[graft] def shinglesFrom(docs: DataFrame): DataFrame =
    docs
      .withColumn("t", split(col("text"), " "))
      .select(col("doc_id"), explode(expr(
        """CASE WHEN size(t) >= 3
          |  THEN transform(sequence(1, size(t) - 2), i -> concat_ws(' ', slice(t, i, 3)))
          |  ELSE array() END""".stripMargin)).as("sht"))
      .select(col("doc_id"), hash60(col("sht")).as("shingle"))
      .distinct()

  private[graft] val shinglesCtes: String =
    s"""tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |sh AS (
       |  SELECT DISTINCT doc_id,
       |         ${Portable.hex2bigSql("md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2])")} AS shingle
       |  FROM tok, unnest(generate_series(1, len(t) - 2)) AS g(i)
       |)""".stripMargin

  // --------------------------------------------------------------- exact dedup

  /** Exact dedup: group identical texts by md5 (never by the 100 KB body),
    * keep the lowest doc_id. The fixture has no exact duplicates, so a
    * deterministic re-insertion (every 10th doc, id+1000000) makes the
    * keep/drop behavior observable — both engines plant the same dups.
    */
  def exact(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val planted = docs.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    docs.union(planted)
      .groupBy(md5Hex(col("text")).as("text_hash"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
  }

  private val exactSql: String =
    """WITH all_docs AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0
      |)
      |SELECT md5(text) AS text_hash, min(doc_id) AS keep_id,
      |       CAST(count(*) AS BIGINT) AS n_copies
      |FROM all_docs GROUP BY 1""".stripMargin

  // ----------------------------------------------------------- n-gram jaccard

  val JaccardThreshold = 0.8

  /** Shingles appearing in more than this many documents are corpus-wide
    * boilerplate (license headers, navigation chrome) and are excluded from
    * BOTH the intersection and the union — the standard df-cut. This is the
    * dial that bounds the self-join: each shingle contributes at most df^2
    * <= 1024 candidate rows no matter how big the corpus grows, where an
    * uncapped hot shingle makes one join bucket quadratic in corpus size.
    * The fixture's max df is 25 (sf0.1), so the cap provably changes
    * nothing at test scale — both engines apply the identical filter.
    */
  val MaxShingleDf = 32

  /** Word-3-gram Jaccard near-dup pairs >= 0.8 over the df-capped shingle
    * sets — the exact-similarity baseline.
    * common-count / (|A|+|B|-common).
    *
    * Plan shape: the df window hash-partitions the shingle set ONCE; the
    * bucket groupBy right after reuses that exchange (same key, already
    * sorted — it plans as a no-exchange SortAggregate), and pair
    * generation is a map-side explode of each bucket's ≤ [[MaxShingleDf]]
    * sorted doc list (≤ df·(df-1)/2 = 496 structs per bucket, bounded by
    * the df-cap no matter the corpus size). That replaces the r5 shingle
    * self-join — the joined rows it materialized were exactly these
    * pairs, but built by re-sorting and zipping two full copies of the
    * shingle set. Only pair rows (8+8 bytes) reach the counting shuffle,
    * which partial-aggregates map-side.
    */
  def ngramJaccard(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sh = shingles(spark, dir)
      .withColumn("df", count(lit(1)).over(Window.partitionBy("shingle")))
      .filter(col("df") <= MaxShingleDf)
      .drop("df")
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val pairs = sh.groupBy("shingle")
      .agg(sort_array(collect_list(col("doc_id"))).as("ds"))
      .filter(size(col("ds")) >= 2)
      .select(explode(expr(
        """flatten(transform(ds, (x, i) ->
          |  transform(slice(ds, i + 2, size(ds) - i - 1),
          |    y -> named_struct('doc_a', x, 'doc_b', y))))""".stripMargin)).as("p"))
      .select(col("p.doc_a"), col("p.doc_b"))
    val common = pairs.groupBy("doc_a", "doc_b").agg(count(lit(1)).as("common"))
    common
      .join(sizes.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sizes.as("sb"), col("doc_b") === col("sb.doc_id"))
      .withColumn("jaccard",
        round(col("common") / (col("sa.n") + col("sb.n") - col("common")), 6))
      .filter(col("jaccard") >= JaccardThreshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  private val ngramJaccardSql: String =
    s"""WITH $shinglesCtes,
       |rare AS (
       |  SELECT doc_id, shingle FROM (
       |    SELECT doc_id, shingle, count(*) OVER (PARTITION BY shingle) AS df FROM sh
       |  ) WHERE df <= $MaxShingleDf
       |),
       |sizes AS (SELECT doc_id, count(*) AS n FROM rare GROUP BY 1),
       |common AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
       |  FROM rare a JOIN rare b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2
       |)
       |SELECT doc_a, doc_b,
       |       round(c.common / (sa.n + sb.n - c.common), 6) AS jaccard
       |FROM common c
       |JOIN sizes sa ON c.doc_a = sa.doc_id
       |JOIN sizes sb ON c.doc_b = sb.doc_id
       |WHERE round(c.common / (sa.n + sb.n - c.common), 6) >= $JaccardThreshold""".stripMargin

  // --------------------------------------------------------- exact substring

  /** Window width (tokens) for [[exactSubstring]]'s seed matches. */
  val SubstrK = 8
  /** Minimum shared exact run (tokens) a pair must reach to be reported —
    * the ExactSubstr threshold (Lee et al. 2022, arXiv:2107.06499, use 50
    * BPE tokens on web corpora; 16 is that dial scaled to the fixture's
    * ~40-token documents).
    */
  val MinRunTokens = 16

  /** Exact-substring overlap detection — the OTHER major dedup family from
    * the dedup literature (Lee et al.'s ExactSubstr, built there on a
    * suffix array): report every doc pair sharing a verbatim token run of
    * at least [[MinRunTokens]], with the longest such run. Where
    * `dedup_ngram_jaccard` measures bag-of-shingles overlap (reordering
    * counts), this demands CONTIGUOUS equality — a long quote, a cloned
    * paragraph.
    *
    * Spark realization (no suffix array — that's a single-node build):
    * positioned [[SubstrK]]-token windows hashed to 60-bit keys, df-capped
    * like the shingle join; matching positions join on the hash; then the
    * maximal run is pure gaps-and-islands algebra — two matches extend one
    * run iff they sit on the same DIAGONAL (a_pos − b_pos) at consecutive
    * a_pos, so `a_pos − row_number()` within (pair, diag) labels each
    * island and an island of L windows is a run of L + K − 1 tokens.
    * Exchanges carry 8-byte hashes and integer positions only; the df cap
    * bounds every join bucket exactly as in the Jaccard path.
    */
  /** Positioned [[SubstrK]]-token windows `(doc_id, pos, h)` — the bucketed
    * frame [[exactSubstring]] joins on and `sketch_occupancy` watches as
    * `substr_window`.
    */
  private[graft] def substrWindows(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("t", split(col("text"), " "))
      .select(col("doc_id"), posexplode(expr(
        s"""CASE WHEN size(t) >= $SubstrK
           |  THEN transform(sequence(1, size(t) - ${SubstrK - 1}),
           |                 i -> concat_ws(' ', slice(t, i, $SubstrK)))
           |  ELSE array() END""".stripMargin)).as(Seq("pos", "w")))
      .select(col("doc_id"), col("pos"), hash60(col("w")).as("h"))

  /** DuckDB mirror of [[substrWindows]] as a `{p}win` CTE (expects
    * `documents` in scope) — shared by the op's oracle and the occupancy
    * gate so the window frame cannot drift between them.
    */
  private[graft] def substrWinCtes(p: String): String =
    s"""${p}tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |${p}win AS (
       |  SELECT doc_id, i AS pos,
       |         ${Portable.hex2bigSql(s"md5(array_to_string(t[i:i+${SubstrK - 1}], ' '))")} AS h
       |  FROM ${p}tok, unnest(generate_series(1, len(t) - ${SubstrK - 1})) AS g(i)
       |  WHERE len(t) >= $SubstrK
       |)""".stripMargin

  def exactSubstring(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rare = substrWindows(spark, dir)
      .withColumn("df", count(lit(1)).over(Window.partitionBy("h")))
      .filter(col("df") <= MaxShingleDf)
      .drop("df")
    val matches = rare.as("a").join(rare.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        (col("a.pos") - col("b.pos")).as("diag"), col("a.pos").as("apos"))
    val islands = matches
      .withColumn("grp", col("apos") - row_number().over(
        Window.partitionBy("doc_a", "doc_b", "diag").orderBy("apos")))
      .groupBy("doc_a", "doc_b", "diag", "grp")
      .agg(count(lit(1)).as("len"))
    islands.groupBy("doc_a", "doc_b")
      .agg((max("len") + lit(SubstrK - 1)).as("max_run"))
      .filter(col("max_run") >= MinRunTokens)
  }

  private val exactSubstringSql: String =
    s"""WITH ${substrWinCtes("")},
       |rare AS (
       |  SELECT doc_id, pos, h FROM (
       |    SELECT doc_id, pos, h, count(*) OVER (PARTITION BY h) AS df FROM win
       |  ) WHERE df <= $MaxShingleDf
       |),
       |matches AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |         a.pos - b.pos AS diag, a.pos AS apos
       |  FROM rare a JOIN rare b ON a.h = b.h AND a.doc_id < b.doc_id
       |),
       |islands AS (
       |  SELECT doc_a, doc_b, diag,
       |         apos - row_number() OVER (PARTITION BY doc_a, doc_b, diag
       |                                   ORDER BY apos) AS grp
       |  FROM matches
       |),
       |runs AS (
       |  SELECT doc_a, doc_b, diag, grp, count(*) AS len
       |  FROM islands GROUP BY 1, 2, 3, 4
       |)
       |SELECT doc_a, doc_b, CAST(max(len) + ${SubstrK - 1} AS BIGINT) AS max_run
       |FROM runs GROUP BY 1, 2
       |HAVING max(len) + ${SubstrK - 1} >= $MinRunTokens""".stripMargin

  // ------------------------------------------------------------- minhash + lsh

  val MinhashPrime = 2147483647L // 2^31 - 1: keeps a*h+b inside int64
  val NumPerms = 16
  val BandRows = 4 // 4 bands x 4 rows

  /** (a_i, b_i) permutation constants from a fixed LCG (seed 42) — embedded
    * identically in the Spark plan and the oracle SQL.
    */
  val perms: Seq[(Int, Long, Long)] = {
    var x = 42L
    def next(): Long = { x = (1103515245L * x + 12345L) % (1L << 31); x }
    (0 until NumPerms).map { i =>
      val a = next() % (MinhashPrime - 1) + 1
      val b = next() % MinhashPrime
      (i, a, b)
    }
  }

  /** Per-document band signatures `(doc_id, band, sig)` — the bucketed
    * frame [[minhashLsh]] self-joins and `sketch_occupancy` measures.
    */
  private[graft] def minhashBandSigs(spark: SparkSession, dir: String): DataFrame = {
    val hashed = shingles(spark, dir)
      .withColumn("hv", col("shingle") % MinhashPrime)
    // all 16 permutation minima in ONE aggregation pass: no perm-table
    // explode, no 16x row blowup, single shuffle on doc_id
    val minCols = perms.map { case (i, a, b) =>
      min((lit(a) * col("hv") + lit(b)) % MinhashPrime).as(s"m$i")
    }
    val mh = hashed.groupBy("doc_id").agg(minCols.head, minCols.tail: _*)
    val bandStructs = (0 until NumPerms / BandRows).map { band =>
      val run = (band * BandRows until (band + 1) * BandRows)
        .map(i => s"CAST(m$i AS STRING)").mkString(", ")
      s"named_struct('band', $band, 'sig', md5(cast(concat_ws('-', $run) AS binary)))"
    }
    mh.select(col("doc_id"),
        explode(expr(bandStructs.mkString("array(", ", ", ")"))).as("bs"))
      .select(col("doc_id"), col("bs.band").as("band"), col("bs.sig").as("sig"))
  }

  /** MinHash signatures + LSH band join: candidate pairs share at least one
    * band signature. The band join touches only bucket collisions — the
    * 100 TB path for near-dup at scale. 16 perms over md5-based shingle
    * hashes, banded 4x4, band signature = md5 of the ordered minhash run.
    */
  def minhashLsh(spark: SparkSession, dir: String): DataFrame = {
    val sigs = minhashBandSigs(spark, dir)
    sigs.as("a")
      .join(sigs.as("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** CTE chain `{p}hashed … {p}sigs(doc_id, band, sig)` — the DuckDB
    * mirror of [[minhashBandSigs]] (expects `sh` from `shinglesCtes` in
    * scope). The name prefix `p` keeps several sketch families
    * collision-free inside one WITH clause (`sketch_occupancy` composes
    * this next to the simhash and hyperplane chains, which also define
    * `hashed`/`sigs`).
    */
  private[graft] def minhashSigsCtes(p: String): String = {
    val permRows = perms.map { case (i, a, b) => s"($i, $a, $b)" }.mkString(", ")
    s"""${p}hashed AS (SELECT doc_id, shingle % $MinhashPrime AS hv FROM sh),
       |${p}perms(i, a, b) AS (VALUES $permRows),
       |${p}mh AS (
       |  SELECT doc_id, p.i, min((p.a * ${p}hashed.hv + p.b) % $MinhashPrime) AS mh
       |  FROM ${p}hashed CROSS JOIN ${p}perms p GROUP BY 1, 2
       |),
       |${p}sigs AS (
       |  SELECT doc_id, i // $BandRows AS band,
       |         md5(string_agg(CAST(mh AS VARCHAR), '-' ORDER BY i)) AS sig
       |  FROM ${p}mh GROUP BY 1, 2
       |)""".stripMargin
  }

  /** CTE chain ending in `pairs(doc_a, doc_b)` — the DuckDB mirror of
    * [[minhashLsh]]; the cluster oracle builds on it.
    */
  private val minhashPairsCtes: String = {
    s"""$shinglesCtes,
       |${minhashSigsCtes("")},
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM sigs a JOIN sigs b
       |    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
       |)""".stripMargin
  }

  private val minhashLshSql: String =
    s"WITH $minhashPairsCtes SELECT doc_a, doc_b FROM pairs"

  // ------------------------------------------------------------------- simhash

  val SimhashBits = 60 // md5-derived hashes carry 60 portable bits
  val HammingMax = 3

  /** Default piece width. 15-bit pieces give 4 pieces over 60 bits —
    * pigeonhole-complete for ham <= [[HammingMax]] — and 2^15 buckets per
    * piece index. The width is the scale dial: per-bucket occupancy grows
    * ~n/2^width, so at 100× corpus growth move to a wider total sketch /
    * wider pieces (any divisor of [[SimhashBits]] with at least
    * HammingMax+1 pieces is valid — see [[simhashWith]]); the
    * `sketch_occupancy` operator is the measured gate that says when.
    */
  val SimhashPieceBits = 15

  /** Per-document 60-bit SimHash `(doc_id, sh)` — the majority-bit
    * aggregation shared by every piece width.
    */
  private[graft] def simhashSigs(spark: SparkSession, dir: String): DataFrame = {
    val hashed = shingles(spark, dir).withColumn("hv", col("shingle"))
    // all 60 bit-position counts in ONE aggregation pass, lane-packed:
    // 4 counters of 15 bits per long (no cross-lane carry while every
    // count < 32768 — i.e. docs under ~32k distinct shingles, far above
    // the corpus ceiling), so the agg buffer is 15 longs instead of 60
    val laneCols = (0 until SimhashBits / 4).map { g =>
      val terms = (0 until 4).map { k =>
        val j = g * 4 + k
        s"shiftleft(shiftright(hv, $j) & 1, ${k * 15})"
      }.mkString(" + ")
      sum(expr(terms)).as(s"lane$g")
    }
    val agg = hashed.groupBy("doc_id")
      .agg(count(lit(1)).as("n"), laneCols: _*)
    val shExpr = (0 until SimhashBits).map { j =>
      val g = j / 4
      val off = (j % 4) * 15
      s"CASE WHEN 2 * (shiftright(lane$g, $off) & 32767) > n THEN ${1L << j} ELSE CAST(0 AS BIGINT) END"
    }.mkString(" + ")
    agg.select(col("doc_id"), expr(shExpr).as("sh"))
  }

  /** Multi-index piece frame `(doc_id, sh, t, piece)` for pieces of
    * `pieceBits` bits — the bucketed frame the candidate join collides on
    * and `sketch_occupancy` measures.
    */
  private[graft] def simhashPieceFrame(sim: DataFrame, pieceBits: Int): DataFrame = {
    require(SimhashBits % pieceBits == 0,
      s"piece width $pieceBits must divide $SimhashBits-bit sketch")
    val n = SimhashBits / pieceBits
    require(n >= HammingMax + 1,
      s"$n pieces of $pieceBits bits cannot pigeonhole hamming <= $HammingMax (need >= ${HammingMax + 1})")
    val mask = (1L << pieceBits) - 1
    sim.select(col("doc_id"), col("sh"),
      explode(expr(s"transform(sequence(0, ${n - 1}), t -> named_struct('t', t, 'piece', shiftright(sh, t * $pieceBits) & $mask))")).as("pc"))
      .select(col("doc_id"), col("sh"), col("pc.t").as("t"), col("pc.piece").as("piece"))
  }

  /** 60-bit SimHash over shingle hashes; near-dup pairs with hamming <= 3.
    * Candidate generation is multi-index banding (pieces of `pieceBits`
    * bits — a pair within hamming [[HammingMax]] must agree on at least
    * one piece whenever there are more pieces than differing bits), then
    * the exact `bit_count(xor)` re-check inside buckets. No all-pairs
    * product. Any valid `pieceBits` returns the IDENTICAL pair set (the
    * re-check is exact; only bucket sizes change) — the dial trades
    * candidate volume against bucket occupancy.
    */
  def simhashWith(spark: SparkSession, dir: String, pieceBits: Int): DataFrame = {
    val pieces = simhashPieceFrame(simhashSigs(spark, dir), pieceBits)
    pieces.as("a")
      .join(pieces.as("b"),
        col("a.t") === col("b.t") && col("a.piece") === col("b.piece") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        expr("bit_count(a.sh ^ b.sh)").as("hamming"))
      .distinct()
      .filter(col("hamming") <= HammingMax)
  }

  def simhash(spark: SparkSession, dir: String): DataFrame =
    simhashWith(spark, dir, SimhashPieceBits)

  /** CTE chain `{p}hashed … {p}sim(doc_id, sh)` — the DuckDB mirror of
    * [[simhashSigs]] (expects `sh` from `shinglesCtes`; prefixed like
    * [[minhashSigsCtes]]).
    */
  private[graft] def simhashSimCtes(p: String): String =
    s"""${p}hashed AS (SELECT doc_id, shingle AS hv FROM sh),
       |${p}n AS (SELECT doc_id, count(*) AS n FROM ${p}hashed GROUP BY 1),
       |${p}setbits AS (
       |  SELECT doc_id,
       |         unnest([j for j in generate_series(0, ${SimhashBits - 1}) if (hv >> j) & 1 = 1]) AS j
       |  FROM ${p}hashed
       |),
       |${p}bits AS (SELECT doc_id, j, count(*) AS cnt FROM ${p}setbits GROUP BY 1, 2),
       |${p}sim AS (
       |  SELECT b.doc_id,
       |         CAST(sum(CASE WHEN 2 * b.cnt > n.n THEN (1::BIGINT << b.j) ELSE 0 END) AS BIGINT) AS sh
       |  FROM ${p}bits b JOIN ${p}n n ON b.doc_id = n.doc_id GROUP BY 1
       |)""".stripMargin

  /** `{p}pieces(doc_id, sh, t, piece)` over `{p}sim` — [[simhashPieceFrame]]'s
    * mirror at the given piece width.
    */
  private[graft] def simhashPiecesCte(p: String, pieceBits: Int): String = {
    val n = SimhashBits / pieceBits
    val mask = (1L << pieceBits) - 1
    s"""${p}pieces AS (
       |  SELECT doc_id, sh, t, (sh >> (t * $pieceBits)) & $mask AS piece
       |  FROM ${p}sim, unnest(generate_series(0, ${n - 1})) AS g(t)
       |)""".stripMargin
  }

  private val simhashSql: String =
    s"""WITH $shinglesCtes,
       |${simhashSimCtes("")},
       |${simhashPiecesCte("", SimhashPieceBits)}
       |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |       CAST(bit_count(xor(a.sh, b.sh)) AS INT) AS hamming
       |FROM pieces a JOIN pieces b
       |  ON a.t = b.t AND a.piece = b.piece AND a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.sh, b.sh)) <= $HammingMax""".stripMargin

  // ------------------------------------------------------ connected components

  /** Near-dup CLUSTERS: connected components over the MinHash-LSH candidate
    * pairs, then one dedup decision per document — `keep` iff it is its
    * cluster's canonical (minimum) doc_id. This is the step a real dedup
    * pipeline runs AFTER candidate generation: pairs alone can't be acted
    * on, because transitive chains (A~B, B~C) must collapse to ONE kept
    * document, not two independent pair-wise drops.
    *
    * Spark realization: iterative min-label propagation WITH POINTER
    * DOUBLING on the pair graph until fixpoint — label(v) :=
    * min(label(v), min over neighbors, label(label(v))) — each round is
    * one edge join + one groupBy + one label self-join ON THE CANDIDATE
    * SUBGRAPH (pairs ≪ corpus; at 100 TB the loop never touches the
    * document table), and the doubling shortcut makes the round count
    * O(log diameter) instead of O(diameter) — a chain-shaped component no
    * longer costs one fixed-price round per link. Singletons join in only
    * at the end, map-side against the converged label table. The
    * iteration cap is a loud failure, not a silent truncation.
    *
    * Scale/hygiene posture:
    *  - every iteration `localCheckpoint`s the label frame, so the logical
    *    plan stays ONE join+groupBy deep no matter the diameter (no
    *    per-round reanalysis/codegen growth, no lineage-recompute risk);
    *    on a real cluster this slots into `checkpoint()` on durable
    *    storage unchanged;
    *  - the converged labels are parked in a SHARED-STORAGE spill
    *    directory ([[graft.model.Spill]]: `spark.graft.spillDir`, default
    *    under the warehouse dir — never a driver-local temp path, which
    *    executors on other nodes could not write to) and read back, so the
    *    RETURNED plan holds zero block-manager state — every checkpoint
    *    block this op pinned is swept before returning
    *    (`Dataset.unpersist` cannot free checkpoint blocks — they persist
    *    at the RDD level, outside the CacheManager — hence the RDD-id
    *    delta sweep);
    *  - no broadcasts: labels join the corpus hint-free (AQE picks
    *    broadcast while |near-dup vertices| is small, sort-merge when it
    *    isn't), and `n_members` is a window count over `cluster_id` —
    *    one shuffle of the corpus, never a per-document frame on the
    *    driver.
    */
  def cluster(spark: SparkSession, dir: String): DataFrame =
    componentsFrom(spark, dir, minhashLsh(spark, dir),
      "doc_a", "doc_b", Tables.documents(spark, dir).select("doc_id"),
      "doc_id", "cc_labels")

  /** Min-label propagation over an arbitrary undirected pair frame — the
    * connected-components engine behind `dedup_cluster` and
    * `knn_components`. `pairs` carries one row per undirected edge
    * (columns `aCol`, `bCol`; checkpointed eagerly here so its lineage
    * runs ONE corpus pass); `universe(idCol)` is the full vertex
    * population so isolated vertices come back as singletons. The loop
    * runs on the candidate SUBGRAPH only, per-iteration localCheckpoint
    * bounds lineage, converged labels spill through the shared-storage
    * [[graft.model.Spill]] gate, and every block pinned inside the op is
    * swept before returning (Round5Spec gates all three behaviors).
    */
  /** Rounds the last [[componentsFrom]] run took to converge — the spec
    * surface for the O(log diameter) pointer-doubling bound.
    */
  private[graft] val lastIterations = new java.util.concurrent.atomic.AtomicInteger(0)

  private[graft] def componentsFrom(spark: SparkSession, dir: String,
      pairs: DataFrame, aCol: String, bCol: String,
      universe: DataFrame, idCol: String, spillName: String): DataFrame = {
    val pinnedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val p = pairs.localCheckpoint()
    val edges = p.select(col(aCol).as("u"), col(bCol).as("v"))
      .union(p.select(col(bCol).as("u"), col(aCol).as("v")))
      .localCheckpoint()
    var labels = edges.select(col("u").as("vid")).distinct()
      .withColumn("lbl", col("vid")).localCheckpoint()
    // Convergence detector: every step takes each vertex's label to a MIN
    // over a set containing its current label, so per-vertex labels are
    // non-increasing and the label SUM is strictly decreasing until the
    // fixpoint — sum unchanged ⟺ no label changed. Reading the sum is one
    // agg job over the just-checkpointed blocks (no join, no shuffle of
    // two label frames — the previous form joined next against labels and
    // counted diffs, a per-round co-shuffle of both frames). decimal(38)
    // keeps the sum exact for any realistic |V|×2⁶³ (≤ ~1e19 vertices).
    // The same job also counts |V| (free on the partial aggregate) — the
    // loop's shuffle-width input below.
    def labelStats(df: DataFrame): (java.math.BigDecimal, Long) = {
      val r = df.agg(sum(col("lbl").cast("decimal(38,0)")), count(lit(1))).head
      (r.getDecimal(0), r.getLong(1))
    }
    var (prevSum, nVerts) = labelStats(labels)
    // The per-round frames are |V| rows of two longs, but every loop
    // join/groupBy inherited the SESSION shuffle width (cores-derived —
    // 32 buckets of a few KB each at bench scale; the r15 scaling block
    // measured the loop FASTER on 8 cores than 32 for exactly this
    // reason). Scale the loop's width to the label frame instead —
    // ~100k rows per partition, capped at the session value so a
    // 100 TB-scale vertex set keeps its full parallelism — and restore
    // the session value whatever happens (guide §2: partitioning must be
    // scale-adaptive, not host-tuned).
    val sessionParts = spark.conf.get("spark.sql.shuffle.partitions")
    val loopParts = math.max(1L, math.min(sessionParts.toLong,
      nVerts / 100000L + 1L))
    var converged = false
    var iter = 0
    try {
      spark.conf.set("spark.sql.shuffle.partitions", loopParts.toString)
      while (!converged && iter < 50) {
        // min-label propagation: one hop along the edges per round …
        val prop = edges.join(labels, edges("u") === labels("vid"))
          .select(edges("v").as("vid"), labels("lbl"))
        val hop = labels.select(col("vid"), col("lbl")).union(prop)
          .groupBy("vid").agg(min("lbl").as("lbl")).localCheckpoint()
        // … then POINTER DOUBLING: shortcut each vertex to its label's own
        // label (l(v) := min(l(v), l(l(v))) — a self-join of the label table,
        // sound because l(v) is always a vertex of v's component). Hop alone
        // needs O(diameter) rounds — a chain-shaped component at 100× scale
        // means hundreds of fixed-cost rounds; with the shortcut the covered
        // distance better-than-doubles per round, so convergence is
        // O(log diameter) (Round12Spec pins a 64-vertex path converging in
        // ≤ 2·log₂ rounds). `hop` stays materialized: r16 measured the
        // lazy form (ptr's self-join re-running the groupBy on both
        // sides under AQE) ~1 s/key SLOWER than the extra checkpoint job
        // — per-round AQE stage re-planning costs more than a tiny-frame
        // materialization.
        val ptr = hop.select(col("vid").as("pvid"), col("lbl").as("plbl"))
        val next = hop.join(ptr, hop("lbl") === ptr("pvid"), "left")
          .select(hop("vid"),
            least(hop("lbl"), coalesce(col("plbl"), hop("lbl"))).as("lbl"))
          .localCheckpoint()
        val (nextSum, _) = labelStats(next)
        labels = next
        converged = (prevSum == null && nextSum == null) ||
          (prevSum != null && nextSum != null && prevSum.compareTo(nextSum) == 0)
        prevSum = nextSum
        iter += 1
      }
    } finally spark.conf.set("spark.sql.shuffle.partitions", sessionParts)
    lastIterations.set(iter)
    require(converged, s"$spillName: not converged after $iter iterations")
    val spill = graft.model.Spill.path(spark, spillName, dir)
    labels.withColumnRenamed("vid", idCol).write.mode("overwrite").parquet(spill)
    spark.sparkContext.getPersistentRDDs
      .foreach { case (id, rdd) => if (!pinnedBefore.contains(id)) rdd.unpersist(false) }
    val mapped = universe
      .join(spark.read.parquet(spill), Seq(idCol), "left")
      .select(col(idCol), coalesce(col("lbl"), col(idCol)).as("cluster_id"))
    mapped
      .withColumn("n_members",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy("cluster_id")))
      .select(col(idCol), col("cluster_id"), col("n_members"),
        (col(idCol) === col("cluster_id")).as("keep"))
  }

  /** Oracle: transitive closure over the same pairs via a recursive CTE —
    * `reach(v, r)` = r is in v's component; cluster id = min reachable.
    */
  private[graft] val clusterSql: String =
    s"""WITH RECURSIVE $minhashPairsCtes,
       |edges AS (
       |  SELECT doc_a AS u, doc_b AS v FROM pairs
       |  UNION
       |  SELECT doc_b, doc_a FROM pairs
       |),
       |reach(v, r) AS (
       |  SELECT u, u FROM edges
       |  UNION
       |  SELECT e.v, reach.r FROM edges e JOIN reach ON reach.v = e.u
       |),
       |comp AS (SELECT v, min(r) AS cluster_id FROM reach GROUP BY 1),
       |m AS (
       |  SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id
       |  FROM documents d LEFT JOIN comp c ON d.doc_id = c.v
       |),
       |sizes AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members FROM m GROUP BY 1)
       |SELECT m.doc_id, m.cluster_id, s.n_members,
       |       m.doc_id = m.cluster_id AS keep
       |FROM m JOIN sizes s USING (cluster_id)""".stripMargin

  // ------------------------------------------------------------ decontaminate

  /** Benchmark decontamination: flag every TRAINING document that shares
    * a word-3-gram shingle with the held-out EVAL set (here the docs with
    * `doc_id % 97 == 0` stand in for the benchmark suite; in production
    * the eval side is the actual eval corpora). A first-class pipeline
    * stage distinct from dedup: dedup compares the corpus against ITSELF,
    * decontamination against a small EXTERNAL set, so the plan is
    * asymmetric — the eval shingle set is benchmark-sized (broadcastable
    * at any corpus size), the train side streams through map-side, and
    * the only exchange is the per-doc hit count whose partial aggregation
    * collapses each doc's co-located shingles first. Gram width is the
    * strictness dial (production suites use 8–13-grams; 3 matches this
    * corpus's phrase length and reuses [[shingles]]' portable 60-bit
    * hashing, so a hash collision flags identically in both engines).
    */
  /** Stand-in predicate marking the held-out EVAL docs (the benchmark
    * suite): `doc_id % EvalMod == 0`. Shared with [[Curate]] so the
    * keep/drop verdict gates on the PREDICATE, not on row absence in
    * this operator's output (docs with <3 tokens have zero shingles and
    * are absent too — they must not be mistaken for eval holdout).
    */
  val EvalMod = 97

  def decontaminate(spark: SparkSession, dir: String): DataFrame =
    decontaminateFrom(Tables.documents(spark, dir))

  def decontaminateFrom(docs: DataFrame): DataFrame = {
    val sh = shinglesFrom(docs)
    val evalSh = sh.filter(col("doc_id") % EvalMod === 0)
      .select(col("shingle")).distinct()
      .withColumn("hit", lit(1))
    sh.filter(col("doc_id") % EvalMod =!= 0)
      .join(broadcast(evalSh), Seq("shingle"), "left")
      .groupBy("doc_id")
      .agg(count(col("hit")).as("n_shared"))
      .select(col("doc_id"), col("n_shared"),
        (col("n_shared") > 0).as("contaminated"))
  }

  private[graft] val decontaminateSql: String =
    s"""WITH $shinglesCtes,
       |ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % $EvalMod = 0)
       |SELECT s.doc_id,
       |       CAST(count(e.shingle) AS BIGINT) AS n_shared,
       |       count(e.shingle) > 0 AS contaminated
       |FROM sh s LEFT JOIN ev e USING (shingle)
       |WHERE s.doc_id % $EvalMod <> 0
       |GROUP BY s.doc_id""".stripMargin

  // ------------------------------------------------------ decontaminate_bloom

  /** Bloom slice width (bits per position; m = 2^bits positions, k = 3
    * positions per shingle — three disjoint slices of the 60-bit shingle
    * hash, so no extra hashing). 20 bits ≈ 1M positions: at a 10k-shingle
    * eval suite the per-shingle false-positive rate is (30k/1M)^3 ≈ 3e-5.
    */
  val BloomSliceBits = 20
  private[graft] val BloomK = 3

  /** `decontaminate` at 100 TB: the exact op broadcasts the eval SHINGLE
    * SET, which grows with the benchmark suite; this broadcasts a BLOOM
    * FILTER of it instead — the set of set bit positions, a frame bounded
    * by m = 2^bits rows no matter how large the suite gets, and the
    * fourth mergeable sketch (positions OR-merge by union, so per-suite
    * filters build independently and union, like rollup slices). A
    * shingle is bloom-positive iff all 3 of its hash positions are set —
    * NO false negatives ever (every truly shared shingle's positions were
    * inserted), only false positives at the published rate. The exact
    * verdict rides along as the measurement harness (the ann_recall
    * pattern): the op reports its own per-doc `false_pos`, and the spec
    * pins the no-false-negative law plus the width dial (wider slices ⇒
    * fewer false positives). Positions are pure integer slices of the
    * portable shingle hash — identical algebra in both engines.
    */
  def decontaminateBloom(spark: SparkSession, dir: String): DataFrame =
    decontaminateBloomFrom(Tables.documents(spark, dir), BloomSliceBits)

  def decontaminateBloomFrom(docs: DataFrame, sliceBits: Int): DataFrame = {
    val sh = shinglesFrom(docs)
    val evalSh = evalShinglesOf(sh)
    val bloom = bloomPositionsFrom(evalSh, sliceBits).withColumn("inb", lit(1))
    val train = sh.filter(col("doc_id") % EvalMod =!= 0)
    val hits = train
      .select(col("doc_id"), col("shingle"),
        explode(array(sliceExprs(sliceBits): _*)).as("pos"))
      .join(broadcast(bloom), Seq("pos"), "left")
      .groupBy("doc_id", "shingle")
      .agg((count(col("inb")) === BloomK).as("bloom_hit"))
      .groupBy("doc_id")
      .agg(sum(when(col("bloom_hit"), 1L).otherwise(0L)).as("n_bloom"))
    val exact = train
      .join(broadcast(evalSh.withColumn("hit", lit(1))), Seq("shingle"), "left")
      .groupBy("doc_id")
      .agg(count(col("hit")).as("n_shared"))
    bloomVerdict(hits.join(exact, "doc_id"))
  }

  /** The eval suite's distinct shingle set (the stand-in predicate). */
  private[graft] def evalShinglesOf(sh: DataFrame): DataFrame =
    sh.filter(col("doc_id") % EvalMod === 0).select(col("shingle")).distinct()

  /** The k disjoint slice expressions over a `shingle` column. */
  private[graft] def sliceExprs(sliceBits: Int): Seq[org.apache.spark.sql.Column] = {
    require(sliceBits >= 4 && sliceBits * BloomK <= 60,
      s"slice bits must fit $BloomK disjoint slices in the 60-bit hash")
    val m = 1L << sliceBits
    (0 until BloomK).map(j => expr(s"(shingle DIV ${1L << (sliceBits * j)}) % $m"))
  }

  /** The Bloom filter as a frame: the distinct set positions, bounded by
    * m = 2^sliceBits rows no matter the suite size — the broadcastable
    * form (shared with the streaming twin, which probes it live).
    */
  private[graft] def bloomPositionsFrom(evalSh: DataFrame, sliceBits: Int): DataFrame =
    evalSh.select(explode(array(sliceExprs(sliceBits): _*)).as("pos")).distinct()

  /** Verdict readoff over a (doc_id, n_bloom, n_shared) count frame —
    * shared with `stream_decontaminate`, whose live aggregation maintains
    * the same two counters per doc.
    */
  private[graft] def bloomVerdict(counts: DataFrame): DataFrame =
    counts.select(col("doc_id"), col("n_bloom"), col("n_shared"),
      (col("n_bloom") > 0).as("bloom_flagged"),
      (col("n_shared") > 0).as("contaminated"),
      (col("n_bloom") > 0 && col("n_shared") === 0).as("false_pos"))

  private[graft] def decontaminateBloomSql(sliceBits: Int): String = {
    val m = 1L << sliceBits
    def sliceSelects(src: String, extra: String) = (0 until BloomK).map(j =>
      s"SELECT $extra(shingle // ${1L << (sliceBits * j)}) % $m AS pos FROM $src")
    s"""WITH $shinglesCtes,
       |ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % $EvalMod = 0),
       |bloom AS (SELECT DISTINCT pos FROM (
       |  ${sliceSelects("ev", "").mkString(" UNION ALL ")})),
       |tr AS (SELECT doc_id, shingle FROM sh WHERE doc_id % $EvalMod <> 0),
       |probe AS (${sliceSelects("tr", "doc_id, shingle, ").mkString(" UNION ALL ")}),
       |hb AS (SELECT p.doc_id, p.shingle, count(b.pos) = $BloomK AS bloom_hit
       |       FROM probe p LEFT JOIN bloom b USING (pos) GROUP BY 1, 2),
       |nb AS (SELECT doc_id,
       |              CAST(sum(CASE WHEN bloom_hit THEN 1 ELSE 0 END) AS BIGINT) AS n_bloom
       |       FROM hb GROUP BY 1),
       |ns AS (SELECT t.doc_id, CAST(count(e.shingle) AS BIGINT) AS n_shared
       |       FROM tr t LEFT JOIN ev e USING (shingle) GROUP BY 1)
       |SELECT doc_id, n_bloom, n_shared,
       |       n_bloom > 0 AS bloom_flagged,
       |       n_shared > 0 AS contaminated,
       |       (n_bloom > 0) AND n_shared = 0 AS false_pos
       |FROM nb JOIN ns USING (doc_id)""".stripMargin
  }

  def ops: Seq[Op] = Seq(
    Op("dedup_exact", exact, Some(exactSql)),
    Op("dedup_ngram_jaccard", ngramJaccard, Some(ngramJaccardSql)),
    Op("dedup_exact_substring", exactSubstring, Some(exactSubstringSql)),
    Op("dedup_minhash_lsh", minhashLsh, Some(minhashLshSql)),
    Op("dedup_simhash", simhash, Some(simhashSql)),
    Op("dedup_cluster", cluster, Some(clusterSql)),
    Op("decontaminate", decontaminate, Some(decontaminateSql)),
    Op("decontaminate_bloom", decontaminateBloom,
      Some(decontaminateBloomSql(BloomSliceBits)))
  )
}
