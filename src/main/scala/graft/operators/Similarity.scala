package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Op
import graft.model.Tables

/** Approximate-nearest-neighbor search over the embedding column.
  *
  * `ann_cosine_topk` is the exact brute-force baseline (probe set broadcast
  * against the corpus); `ann_lsh_bucketed` is the 100 TB path — random
  * hyperplane signatures bucket the corpus so candidates share a bucket and
  * only bucket-mates get the exact cosine re-rank.
  *
  * Determinism across engines: float32 coordinates are scaled to 1e7
  * fixed-point bigints, so dots and norms are EXACT integer sums (immune to
  * summation order); the final cosine is two correctly-rounded IEEE ops
  * (sqrt, divide) — bit-identical in Spark and DuckDB.
  */
object Similarity {

  val Scale = 10000000L       // 1e7: |x|<~1, dim 64 -> dot <= 64e14, inside int64
  val ProbeMod = 50           // probes: vec_id % 50 == 0
  val TopK = 5
  val Dim = 64                // embedding dimension (embeddings.parquet contract)

  /** Exact integer dot product via the native `vec_dot` expression
    * (graft.functions.VecMath): codegen'd as one static call whose loop
    * lives in pre-compiled bytecode. Supersedes the r3 64-term unrolled
    * `element_at` sum — as fast to run (JIT unrolls the loop), but the
    * generated source per stage drops from ~1 KLoC to one line, so janino
    * compile time no longer dominates the ANN suite at bench scale.
    * (Higher-order functions remain off the table: `aggregate`/`zip_with`
    * lambdas evaluate interpreted with per-element boxing, measured ~25x
    * slower in r3.)
    */
  private def dotExpr(a: String, b: String): String = s"vec_dot($a, $b)"

  private val toFixed =
    s"transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * $Scale) AS BIGINT))"
  private val toFixedSql =
    s"[CAST(floor(CAST(x AS DOUBLE) * $Scale) AS BIGINT) for x in embedding]"

  /** (vec_id, v fixed-point, nrm = |v|^2 exact). */
  private[graft] def fixedVecs(spark: SparkSession, dir: String): DataFrame =
    fixedVecsFrom(Tables.embeddings(spark, dir))

  /** The fixed-point projection over an arbitrary raw `(vec_id,
    * embedding)` frame — row-local, so it runs unchanged on a STREAM of
    * vectors (`stream_ann`'s ingest path).
    */
  private[graft] def fixedVecsFrom(raw: DataFrame): DataFrame = {
    graft.functions.GraftExtensions.register(raw.sparkSession)
    raw.select(col("vec_id"), expr(toFixed).as("v"))
      .withColumn("nrm", expr(dotExpr("v", "v")))
  }

  /** `AS MATERIALIZED` below (and in every chain builder in this file):
    * DuckDB 1.0 INLINES a CTE once per reference, so a CTE referenced
    * twice re-evaluates its whole upstream chain twice — across the
    * 4-round unrolled Lloyd/PQ chains that compounds to 2–3^rounds
    * re-evaluations, which is what made the r14 oracle pass minutes-long
    * per key (and allocator-fatal at sf0.1). Materializing the
    * multi-referenced chain CTEs is semantically free (same rows, and
    * every cross-engine value is integer/fixed-point order-immune by the
    * Portable rules) and collapses the blowup to linear — measured 9.8 s
    * → 1.0 s on `ann_pq`'s oracle at sf0.01, bit-identical results.
    * These strings are DuckDB-only (never parsed by Spark).
    */
  private[graft] val fixedVecsCtes: String =
    s"""iv AS (SELECT vec_id, $toFixedSql AS v FROM embeddings),
       |nv AS MATERIALIZED (SELECT vec_id, v, CAST(list_sum([x * x for x in v]) AS BIGINT) AS nrm FROM iv)""".stripMargin

  /** Brute-force cosine top-k per probe: broadcast the probe set, unrolled
    * integer dot (whole-stage codegen), window rank. One corpus scan, no
    * shuffle except the final per-probe top-k. Quadratic BY DESIGN — the
    * exactness baseline the approximate paths (LSH, IVF) are recalled
    * against; those are the operators to run at 100 TB.
    */
  def cosineTopK(spark: SparkSession, dir: String): DataFrame = {
    val vecs = fixedVecs(spark, dir)
    val probes = vecs.filter(col("vec_id") % ProbeMod === 0)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
    val scored = vecs.crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("dot",
        expr(dotExpr("v", "qv")))
      .withColumn("cos", col("dot") / (sqrt(col("nrm")) * sqrt(col("qn"))))
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy("q_id").orderBy(col("cos").desc, col("vec_id"))))
      .filter(col("rank") <= TopK)
      .select(col("q_id").as("query_id"), col("vec_id").as("neighbor_id"),
        col("rank"), round(col("cos"), 6).as("cosine"))
  }

  private val cosineTopKSql: String =
    s"""WITH $fixedVecsCtes,
       |probes AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn FROM nv WHERE vec_id % $ProbeMod = 0),
       |pairs AS (
       |  SELECT p.q_id, n.vec_id,
       |         CAST(list_sum([n.v[i] * p.qv[i] for i in generate_series(1, len(n.v))]) AS BIGINT) AS dot,
       |         n.nrm, p.qn
       |  FROM nv n CROSS JOIN probes p WHERE n.vec_id <> p.q_id
       |),
       |scored AS (
       |  SELECT q_id, vec_id, dot / (sqrt(nrm) * sqrt(qn)) AS cos
       |  FROM pairs
       |),
       |ranked AS (
       |  SELECT q_id, vec_id, cos,
       |         row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank
       |  FROM scored
       |)
       |SELECT q_id AS query_id, vec_id AS neighbor_id, CAST(rank AS INT) AS rank,
       |       round(cos, 6) AS cosine
       |FROM ranked WHERE rank <= $TopK""".stripMargin

  // ------------------------------------------------------------- knn_mutual

  /** Which vectors form the mutual-kNN graph's vertex set (`vec_id %
    * KnnGraphMod == 0`) — the same sampled-harness dial as [[ProbeMod]]:
    * the graph primitive is exercised on a deterministic slice, because
    * the exact kNN underneath is quadratic in the vertex count.
    */
  val KnnGraphMod = 5

  /** Mutual-kNN graph degrees — the diversity/outlier primitive downstream
    * curation builds on (a vector whose kNN edges are not reciprocated
    * sits on the fringe of its region; hub-and-fringe degrees drive
    * graph-based diversity sampling). Over the [[KnnGraphMod]] vertex
    * slice: exact top-[[TopK]] neighbor lists WITHIN the slice, then an
    * edge (a, b) is MUTUAL iff each appears in the other's list;
    * `mutual_degree` ∈ [0, k] per vertex, zero-degree vertices kept.
    *
    * Plan shape: the kNN underneath is the [[cosineTopK]] broadcast
    * crossJoin + per-vertex top-k window (quadratic in the SLICE, by
    * design — the approximate paths are the 100 TB route); the mutuality
    * test is ONE self-join of the k·|slice|-row list on the reversed edge
    * key, then a broadcast-sized count collapse.
    */
  /** The graph's vertex slice `(vec_id, v, nrm)`. */
  private def graphVerts(spark: SparkSession, dir: String): DataFrame =
    fixedVecs(spark, dir).filter(col("vec_id") % KnnGraphMod === 0)

  /** DIRECTED mutual edges `(q_id, n_id)` — each reciprocated kNN pair
    * appears in both directions. Shared by the degree view
    * ([[knnMutual]]) and the component clustering ([[knnComponents]]).
    */
  private def mutualKnnEdges(spark: SparkSession, dir: String,
      tag: String): DataFrame = {
    val verts = graphVerts(spark, dir)
    val probes = verts
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
    val knn0 = verts.crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos",
        expr(dotExpr("v", "qv")) / (sqrt(col("nrm")) * sqrt(col("qn"))))
      .withColumn("rank", row_number().over(
        Window.partitionBy("q_id").orderBy(col("cos").desc, col("vec_id"))))
      .filter(col("rank") <= TopK)
      .select(col("q_id"), col("vec_id").as("n_id"))
    // The mutuality self-join references the lists twice; left as lineage
    // the quadratic crossJoin + top-k window executed on BOTH sides. One
    // spill of the k·|slice|-row id lists makes each side a parquet read.
    // Output is a pure function of `dir` (fixed slice, fixed k), but the
    // returned frame reads its spill LAZILY — a shared tag would let a
    // concurrent consumer's overwrite race another's read (the r13
    // advice class; r16 makes the tag per-caller like every other spill).
    val spill = graft.model.Spill.path(spark, s"knn_exact_lists_$tag", dir)
    knn0.write.mode("overwrite").parquet(spill)
    val knn = spark.read.parquet(spill)
    knn.as("x")
      .join(knn.as("y"),
        col("x.q_id") === col("y.n_id") && col("x.n_id") === col("y.q_id"))
      .select(col("x.q_id").as("q_id"), col("x.n_id").as("n_id"))
  }

  def knnMutual(spark: SparkSession, dir: String): DataFrame = {
    val mutual = mutualKnnEdges(spark, dir, "mutual")
      .groupBy(col("q_id").as("vec_id"))
      .agg(count(lit(1)).as("mutual_degree"))
    graphVerts(spark, dir).select("vec_id")
      .join(mutual, Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("mutual_degree"), lit(0L)).as("mutual_degree"))
  }

  /** CTE chain `km_verts … km_knn(q_id, n_id) … km_me(u, v)` — the DuckDB
    * mirror of [[mutualKnnEdges]], shared by both graph oracles.
    */
  private val knnGraphCtes: String =
    s"""km_verts AS MATERIALIZED (SELECT * FROM nv WHERE vec_id % $KnnGraphMod = 0),
       |km_pairs AS (
       |  SELECT p.vec_id AS q_id, n.vec_id,
       |         CAST(list_sum([n.v[i] * p.v[i] for i in generate_series(1, len(n.v))]) AS BIGINT)
       |           / (sqrt(n.nrm) * sqrt(p.nrm)) AS cos
       |  FROM km_verts n CROSS JOIN km_verts p WHERE n.vec_id <> p.vec_id
       |),
       |km_knn AS MATERIALIZED (
       |  SELECT q_id, vec_id AS n_id FROM (
       |    SELECT q_id, vec_id,
       |           row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank
       |    FROM km_pairs
       |  ) WHERE rank <= $TopK
       |),
       |km_me AS MATERIALIZED (
       |  SELECT x.q_id AS u, x.n_id AS v
       |  FROM km_knn x JOIN km_knn y ON x.q_id = y.n_id AND x.n_id = y.q_id
       |)""".stripMargin

  private val knnMutualSql: String =
    s"""WITH $fixedVecsCtes,
       |$knnGraphCtes,
       |km_mutual AS (
       |  SELECT u AS vec_id, CAST(count(*) AS BIGINT) AS mutual_degree
       |  FROM km_me GROUP BY 1
       |)
       |SELECT v.vec_id, coalesce(m.mutual_degree, 0) AS mutual_degree
       |FROM km_verts v LEFT JOIN km_mutual m ON v.vec_id = m.vec_id""".stripMargin

  // --------------------------------------------------------- knn_components

  /** Connected components of the mutual-kNN graph — graph clustering over
    * the embedding space (the cluster view diversity sampling and
    * near-dup group curation read; where `dedup_cluster` closes LSH
    * CANDIDATE pairs, this closes reciprocated-neighborhood edges, the
    * density-robust construction). Engine = the SAME min-label
    * propagation `dedup_cluster` runs ([[graft.operators.Dedup
    * .componentsFrom]], reused unchanged: candidate-subgraph-only loop,
    * per-iteration localCheckpoint, spill gate, block sweep); the oracle
    * is the same recursive-CTE closure over the shared `km_*` graph CTEs.
    */
  def knnComponents(spark: SparkSession, dir: String): DataFrame =
    Dedup.componentsFrom(spark, dir,
      mutualKnnEdges(spark, dir, "components").filter(col("q_id") < col("n_id")),
      "q_id", "n_id", graphVerts(spark, dir).select("vec_id"),
      "vec_id", "knn_labels")

  private val knnComponentsSql: String =
    s"""WITH RECURSIVE $fixedVecsCtes,
       |$knnGraphCtes,
       |reach(v, r) AS (
       |  SELECT u, u FROM km_me
       |  UNION
       |  SELECT e.v, reach.r FROM km_me e JOIN reach ON reach.v = e.u
       |),
       |comp AS (SELECT v, min(r) AS cluster_id FROM reach GROUP BY 1),
       |m AS (
       |  SELECT kv.vec_id, coalesce(c.cluster_id, kv.vec_id) AS cluster_id
       |  FROM km_verts kv LEFT JOIN comp c ON kv.vec_id = c.v
       |),
       |sizes AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members FROM m GROUP BY 1)
       |SELECT m.vec_id, m.cluster_id, s.n_members,
       |       m.vec_id = m.cluster_id AS keep
       |FROM m JOIN sizes s USING (cluster_id)""".stripMargin

  // ----------------------------------------------------------- knn_pagerank

  /** Power-iteration rounds for [[knnPagerank]]. */
  val PrIters = 3
  /** Damping percent (the classic 0.85). */
  val PrDamp = 85L
  /** Initial rank in parts-per-million. */
  val PrBase = 1000000L

  /** PageRank centrality over the mutual-kNN graph — the third graph
    * read beside degrees ([[knnMutual]]) and components
    * ([[knnComponents]]): a vector central to a well-connected region
    * ranks high, fringe/outlier vectors sink — the centrality signal
    * graph-based diversity sampling and representative-selection
    * curation weight documents by.
    *
    * All-integer power iteration, so both engines agree bit-for-bit with
    * no float tolerance: ranks live in ppm, each round is
    * `r' = 150000 + (85 · Σ_{u→v} (r(u) DIV deg(u))) DIV 100` — floor
    * divisions and order-immune bigint sums only. Dangling (degree-0)
    * vertices leak their damped mass (the documented leaky form; they
    * still RECEIVE the base mass each round). [[PrIters]] unrolled rounds
    * — the audit wants a stable ordering, not convergence to 1e-12.
    *
    * Plan shape: per round ONE inflow aggregation over the edge list
    * joined to the rank frame on the edge's own key — at 100 TB this is
    * the standard edge-partitioned PageRank join; the |slice|-row rank
    * frame rides the same key partitioning every round.
    */
  def knnPagerank(spark: SparkSession, dir: String): DataFrame =
    pagerankFrom(spark, dir, mutualKnnEdges(spark, dir, "pagerank"),
      graphVerts(spark, dir).select("vec_id"), "knn_pagerank_edges")

  /** The power-iteration engine over an arbitrary DIRECTED mutual edge
    * frame `(q_id, n_id)` and vertex universe — shared by [[knnPagerank]]
    * (exact slice edges) and [[knnPagerankIvf]] (IVF cell-mate edges over
    * the full corpus).
    */
  private def pagerankFrom(spark: SparkSession, dir: String,
      edges0: DataFrame, verts: DataFrame, spillTag: String): DataFrame = {
    // The edge list feeds every unrolled round; left as lineage, the
    // kNN sub-plan would be re-executed once per round (the
    // dedup_cluster iteration-lineage problem). Spill it ONCE through the
    // shared-storage gate — the rounds then read a k·|verts|-row parquet,
    // and the returned plan pins zero block-manager state. Retention is
    // Spill's documented GC contract: overwrite-per-(tag, input), one copy
    // ever on disk, `rm -r <spillRoot>` reclaims at any quiet moment.
    val spill = graft.model.Spill.path(spark, spillTag, dir)
    edges0.write.mode("overwrite").parquet(spill)
    val edges = spark.read.parquet(spill)
    val deg = edges.groupBy("q_id").agg(count(lit(1)).as("deg"))
    val eD = edges.join(deg, "q_id")
    var r = verts.select(col("vec_id"), lit(PrBase).as("r"))
    for (_ <- 1 to PrIters) {
      val inflow = eD
        .join(r.select(col("vec_id").as("q_id"), col("r")), "q_id")
        .select(col("n_id").as("vec_id"), expr("r DIV deg").as("c"))
        .groupBy("vec_id").agg(sum("c").as("inflow"))
      r = verts.join(inflow, Seq("vec_id"), "left")
        .select(col("vec_id"), expr(
          s"${PrBase - PrBase * PrDamp / 100} + " +
            s"($PrDamp * coalesce(inflow, CAST(0 AS BIGINT))) DIV 100 AS r"))
    }
    r.join(deg.select(col("q_id").as("vec_id"), col("deg")), Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("deg"), lit(0L)).as("mutual_degree"),
        col("r").as("pr_ppm"))
  }

  /** The unrolled power-iteration oracle over an arbitrary CTE chain that
    * defines `$vertsName(vec_id, …)` and `$meName(u, v)` — the DuckDB
    * mirror of [[pagerankFrom]], shared by both pagerank oracles.
    */
  private def pagerankSqlOver(ctes: String, vertsName: String,
      meName: String): String = {
    val base = PrBase - PrBase * PrDamp / 100
    def round(n: Int): String =
      s"""pr$n AS MATERIALIZED (
         |  SELECT v.vec_id,
         |         CAST($base + (${PrDamp} * coalesce(s.inflow, 0)) // 100 AS BIGINT) AS r
         |  FROM $vertsName v LEFT JOIN (
         |    SELECT e.v AS vec_id, CAST(sum(p.r // d.deg) AS BIGINT) AS inflow
         |    FROM $meName e
         |    JOIN pr_deg d ON e.u = d.u
         |    JOIN pr${n - 1} p ON p.vec_id = e.u
         |    GROUP BY 1
         |  ) s ON v.vec_id = s.vec_id
         |)""".stripMargin
    s"""WITH $fixedVecsCtes,
       |$ctes,
       |pr_deg AS MATERIALIZED (SELECT u, CAST(count(*) AS BIGINT) AS deg FROM $meName GROUP BY 1),
       |pr0 AS MATERIALIZED (SELECT vec_id, CAST($PrBase AS BIGINT) AS r FROM $vertsName),
       |${(1 to PrIters).map(round).mkString(",\n")}
       |SELECT p.vec_id, coalesce(d.deg, 0) AS mutual_degree, p.r AS pr_ppm
       |FROM pr$PrIters p LEFT JOIN pr_deg d ON p.vec_id = d.u""".stripMargin
  }

  private val knnPagerankSql: String =
    pagerankSqlOver(knnGraphCtes, "km_verts", "km_me")

  // ----------------------------------------------------------- LSH bucketing

  /** Multi-TABLE multi-probe LSH configuration. One hyperplane table is a
    * recall lottery ticket — the r5 single-table form topped out at 0.32
    * recall@5 (~11% scanned). Independent tables redraw the ticket: recall
    * compounds as 1-(1-r)^L while the scanned fraction only adds
    * (≈ L × ring/2^planes, minus overlap) — the standard L-table LSH
    * construction. MORE planes per table with a DEEPER probe ring is the
    * efficient direction: a distance-2 ring covers 106 of 2^14 buckets
    * (0.65%) per table. The shipped 32×14×d2 point is the r9 sf0.1-swept
    * knee for the ≥0.8-recall regime: recall@5 = 0.82 at 22.4% scanned on
    * sf0.1 AND 0.90 at 22.8% on sf0.01 (`graft.Tune lsh`; docs/TUNING.md
    * has the full frontier; the per-round `ann_recall` key re-measures
    * it). The r8 16-table point (0.74 @ 12.9% sf0.01, but only 0.59 at
    * sf0.1) sat below the recall bar a curation pipeline wants. At 100 TB
    * the dials move together: planes ~log n keeps buckets bounded,
    * tables × ring keeps recall, and each table stays an independent
    * broadcast-probe equality join.
    */
  val NumTables = 32
  val PlanesPerTable = 14
  val ProbeDist = 2

  /** All XOR masks within Hamming distance `d` of a `p`-bit signature —
    * the multi-probe ring, enumerated identically in both engines.
    */
  def probeRing(p: Int, d: Int): Seq[Long] =
    (0L until (1L << p)).filter(m => java.lang.Long.bitCount(m) <= d)

  val ProbeMasks: Seq[Long] = probeRing(PlanesPerTable, ProbeDist)

  /** ±1 random hyperplanes from a fixed splitmix64 stream (seed 7). Only
    * the RESULTING plane constants are embedded in the two engines (the
    * oracle SQL renders them as literals), so the generator just has to be
    * deterministic and statistically clean. The r5 LCG was NOT: its bit-10
    * stream has period 2^11, so past 32 planes (2048 draws) "independent"
    * tables silently repeated earlier plane rows — measured as 6-, 8- and
    * 10-table configs returning byte-identical candidate sets
    * (`graft.Tune lsh`). splitmix64's full-width mixing has no such lattice.
    * The stream is sequential, so `mkPlanes(n)` for a larger `n` extends
    * the same plane set rather than replacing it.
    */
  private def mkPlanes(n: Int): Seq[(Int, Seq[Long])] = {
    var x = 7L
    def next(): Long = {
      x += 0x9E3779B97F4A7C15L
      var z = x
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    (0 until n).map { j =>
      j -> Seq.fill(Dim)(if ((next() >>> 63) == 1L) 1L else -1L)
    }
  }

  /** Plane rows for `tables` independent tables of `planes` planes each,
    * drawn from the single sequential LCG stream (so any prefix config is
    * a sub-family of a larger one).
    */
  private[graft] def tablePlanesFor(tables: Int, planes: Int): Seq[Seq[Seq[Long]]] =
    mkPlanes(tables * planes).map(_._2).grouped(planes).toSeq

  val tablePlanes: Seq[Seq[Seq[Long]]] = tablePlanesFor(NumTables, PlanesPerTable)

  /** Spark-side signature: native `vec_signbits(v, masks)` over the given
    * ±1 plane rows (graft.functions.VecMath) — the signature is a map-only
    * bit-packed projection (a ±1-plane dot is a signed SUM), one static
    * call inside whole-stage codegen: no plane crossJoin, no groupBy, no
    * join back to the corpus.
    */
  private def sigCall(planeRows: Seq[Seq[Long]]): String = {
    val masks = graft.functions.VecMath.planeMasks(planeRows)
    s"vec_signbits(v, array(${masks.map(m => s"${m}L").mkString(",")}))"
  }

  /** Scored candidate pairs `(q_id, vec_id, cos)` for a given table/probe
    * configuration — the shared core of [[lshBucketed]] and the
    * `graft.Tune lsh` dial-measurement harness.
    *
    * Plan shape: ALL table signatures come out of one map-only corpus
    * projection (one `vec_signbits` call per table); each table joins the
    * corpus against its broadcast probe ring on bucket equality — within a
    * table a corpus vector matches at most ONE probed signature per probe,
    * so per-table candidates are duplicate-free; the cross-table union
    * dedups with one `distinct` (duplicate rows are bit-identical — the
    * cosine is a pure function of the pair — so the collapse is
    * deterministic in both engines). At 100 TB each table join shuffles
    * nothing (probe side broadcast) and the distinct + final top-k
    * exchanges carry only candidate rows, ~scan-fraction × probes of the
    * corpus.
    */
  private[graft] def lshCandidates(spark: SparkSession, dir: String,
      tables: Seq[Seq[Seq[Long]]], dist: Int): DataFrame = {
    val ring = probeRing(tables.head.size, dist)
    // All table signatures as ONE array projection, long-formed by
    // posexplode so the whole multi-table lookup is a SINGLE join on
    // (table, bucket) — an L-branch union of per-table joins costs L
    // broadcast builds and L codegen stages for identical work (measured
    // ~0.15 s of fixed overhead per branch at bench scale). The probe
    // ring broadcast carries no vector payload (q_id, table, bucket
    // only); payload joins back once per candidate via the tiny per-probe
    // frame, and the distinct dedups cross-table hits on 24-byte rows.
    val sigArr = expr(tables.map(sigCall).mkString("array(", ", ", ")"))
    val vecs = fixedVecs(spark, dir)
    val corpusSig = vecs.select(col("vec_id"), col("v"), col("nrm"),
      posexplode(sigArr).as(Seq("t", "b")))
    val probesBase = vecs.filter(col("vec_id") % ProbeMod === 0)
    val probeRings = probesBase
      .select(col("vec_id").as("q_id"), posexplode(sigArr).as(Seq("qt", "qb0")))
      .withColumn("m", explode(array(ring.map(lit): _*)))
      .select(col("q_id"), col("qt"), col("qb0").bitwiseXOR(col("m")).as("qb"))
    val probePayload = probesBase
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
    corpusSig.join(broadcast(probeRings),
        col("t") === col("qt") && col("b") === col("qb") &&
          col("vec_id") =!= col("q_id"))
      .join(broadcast(probePayload), Seq("q_id"))
      .select(col("q_id"), col("vec_id"),
        (expr(dotExpr("v", "qv")) / (sqrt(col("nrm")) * sqrt(col("qn")))).as("cos"))
      .distinct()
  }

  /** Per-probe top-k over scored candidates — shared final stage. */
  private[graft] def topKFromCands(cands: DataFrame): DataFrame =
    cands
      .withColumn("rank", row_number().over(
        Window.partitionBy("q_id").orderBy(col("cos").desc, col("vec_id"))))
      .filter(col("rank") <= TopK)
      .select(col("q_id").as("query_id"), col("vec_id").as("neighbor_id"),
        col("rank"), round(col("cos"), 6).as("cosine"))

  /** Multi-table random-hyperplane LSH ANN (see [[NumTables]] docs): L
    * independent signature tables, distance-[[ProbeDist]] probe rings,
    * exact cosine re-rank over the deduped candidate union.
    */
  def lshBucketed(spark: SparkSession, dir: String): DataFrame =
    lshBucketedWith(spark, dir, NumTables, PlanesPerTable, ProbeDist)

  /** [[lshBucketed]] at an explicit `(tables, planes, dist)` config — the
    * LSH dial surface, parameterized like [[Dedup.simhashWith]] /
    * [[embeddingNearDupWith]]: `planes` is the occupancy knob (2^planes
    * buckets per table, must grow ~log n), `tables` × `dist` the recall
    * knob. Plane rows extend the same splitmix64 stream, so any config is
    * a prefix-family of a larger one.
    */
  def lshBucketedWith(spark: SparkSession, dir: String,
      tables: Int, planes: Int, dist: Int = ProbeDist): DataFrame =
    topKFromCands(lshCandidates(spark, dir, tablePlanesFor(tables, planes), dist))

  /** The oracle computes the SAME signatures relationally — a 224-row
    * `planes(t, k, mask)` VALUES table joined against the unnested
    * coordinates — rather than 224 unrolled ±v sum expressions: the
    * text-unrolled form was 136 KB of SQL whose expression trees took
    * DuckDB's planner ~75 s to chew at sf0.01; the relational form plans
    * in milliseconds and vectorizes the identical arithmetic. (`(mask >>
    * (i-1)) & 1` extracts coordinate signs — bit extraction is fill-bit
    * agnostic, so arithmetic-vs-logical shift on a negative mask is moot.)
    */
  /** CTE chain `{p}planes … {p}sigs(vec_id, t, b)` — the relational
    * DuckDB mirror of `vec_signbits` over a table family (expects
    * `nv` from [[fixedVecsCtes]] in scope). Prefix `p` keeps several
    * sketch families collision-free in one WITH clause: the
    * `sketch_occupancy` oracle composes this twice (LSH tables AND
    * embedding-cosine bands — a band IS a table of
    * [[DupPlanesPerBand]] planes).
    */
  private[graft] def sigCtes(p: String, tables: Seq[Seq[Seq[Long]]]): String = {
    val planeRows = tables.zipWithIndex.flatMap { case (tp, t) =>
      graft.functions.VecMath.planeMasks(tp).zipWithIndex.map {
        case (mask, k) => s"($t, $k, ${mask}::BIGINT)"
      }
    }
    s"""${p}planes(t, k, mask) AS (VALUES ${planeRows.mkString(", ")}),
       |${p}vu AS (
       |  SELECT vec_id, g.i AS i, v[g.i] AS x
       |  FROM nv, generate_series(1, $Dim) AS g(i)
       |),
       |${p}psum AS (
       |  SELECT vu.vec_id, p.t, p.k,
       |         sum(CASE WHEN (p.mask >> (vu.i - 1)) & 1 = 1 THEN vu.x ELSE -vu.x END) AS s
       |  FROM ${p}vu vu CROSS JOIN ${p}planes p
       |  GROUP BY 1, 2, 3
       |),
       |${p}sigs AS (
       |  SELECT vec_id, t,
       |         CAST(sum(CASE WHEN s >= 0 THEN 1::BIGINT << k ELSE 0 END) AS BIGINT) AS b
       |  FROM ${p}psum GROUP BY 1, 2
       |)""".stripMargin
  }

  private val lshBucketedSql: String = {
    s"""WITH $fixedVecsCtes,
       |${sigCtes("", tablePlanes)},
       |probes AS (
       |  SELECT s.vec_id AS q_id, s.t, xor(s.b, m.m) AS qb
       |  FROM sigs s, (SELECT unnest([${ProbeMasks.mkString(",")}]) AS m) m
       |  WHERE s.vec_id % $ProbeMod = 0
       |),
       |cand_ids AS (
       |  SELECT DISTINCT p.q_id, c.vec_id
       |  FROM sigs c JOIN probes p ON c.t = p.t AND c.b = p.qb AND c.vec_id <> p.q_id
       |),
       |cands AS (
       |  SELECT ci.q_id, ci.vec_id,
       |         CAST(list_sum([n.v[i] * q.v[i] for i in generate_series(1, len(n.v))]) AS BIGINT)
       |           / (sqrt(n.nrm) * sqrt(q.nrm)) AS cos
       |  FROM cand_ids ci
       |  JOIN nv n ON n.vec_id = ci.vec_id
       |  JOIN nv q ON q.vec_id = ci.q_id
       |),
       |ranked AS (
       |  SELECT q_id, vec_id, cos,
       |         row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank
       |  FROM cands
       |)
       |SELECT q_id AS query_id, vec_id AS neighbor_id, CAST(rank AS INT) AS rank,
       |       round(cos, 6) AS cosine
       |FROM ranked WHERE rank <= $TopK""".stripMargin
  }

  // ------------------------------------------- embedding-cosine near-dup dedup

  val DupThreshold = 0.4      // cosine floor for "near-duplicate" in this corpus
  val DupBands = 2            // banding trades precision for recall exactly
  val DupPlanesPerBand = 8    // like MinHash-LSH banding; 8 bits = 256
                              // buckets per band (width should grow ~log n)
  private val dupPlanes: Seq[(Int, Seq[Long])] = mkPlanes(DupBands * DupPlanesPerBand)

  /** `0 + v[1] - v[2] …`: a ±1-plane dot is a signed SUM, not a product —
    * half the codegen of the generic dot and no multiply.
    */
  private def signedDot(rv: Seq[Long], elem: Int => String): String =
    "0 " + rv.zipWithIndex
      .map { case (s, i) => (if (s > 0L) "+ " else "- ") + elem(i + 1) }
      .mkString(" ")

  /** Bit-packed sign pattern of one band's planes, as a single expression. */
  private def sigExpr(band: Int, elem: Int => String): String =
    (0 until DupPlanesPerBand).map { k =>
      val rv = dupPlanes(band * DupPlanesPerBand + k)._2
      s"(CASE WHEN (${signedDot(rv, elem)}) >= 0 THEN ${1L << k} ELSE 0 END)"
    }.mkString(" + ")

  /** Embedding-cosine near-duplicate detection — the dedup application of
    * LSH (cf. dedup_minhash_lsh for lexical shingles; this is its semantic
    * twin over the embedding space). Candidate pairs share at least one
    * BAND of hyperplane signs (for true near-dups at cos ≈ 0.95 each
    * 8-plane band matches with (1-θ/π)^8 ≈ 0.43, two bands ≈ 68% recall —
    * banding recovers recall the same way MinHash banding does), then the
    * exact fixed-point cosine keeps pairs ≥ [[DupThreshold]].
    *
    * Plan shape: both band signatures come out of ONE map-only projection
    * over the corpus (sign of a ±1-plane dot is a signed sum — pure
    * whole-stage codegen, no plane crossJoin, no groupBy); each band is a
    * self-join on its 8-bit signature that carries `v`/`nrm` along, so
    * candidates are scored in place with no join back to the corpus. At
    * 100 TB each band join shuffles on the signature and touches only
    * sign-colliding pairs (~1/256 of the cross product per band) — and the
    * band width is the dial that keeps bucket sizes bounded as n grows.
    */
  def embeddingNearDup(spark: SparkSession, dir: String): DataFrame =
    embeddingNearDupWith(spark, dir, DupBands, DupPlanesPerBand)

  /** Band-plane rows for a `(bands, planesPerBand)` config, drawn from the
    * same sequential splitmix64 stream as the defaults — a band is a table
    * of `planesPerBand` planes, structurally identical to an LSH table.
    */
  private[graft] def dupPlanesFor(bands: Int, planesPerBand: Int): Seq[Seq[Seq[Long]]] =
    mkPlanes(bands * planesPerBand).map(_._2).grouped(planesPerBand).toSeq

  /** Per-vector band signatures `(vec_id, v, nrm, band, sig)` at a given
    * config — the bucketed frame the candidate join collides on and
    * `sketch_occupancy` measures. All bands come out of ONE map-only
    * posexplode projection (one `vec_signbits` call per band).
    */
  private[graft] def embBandSigs(spark: SparkSession, dir: String,
      bands: Int, planesPerBand: Int): DataFrame = {
    val sigArr = expr(dupPlanesFor(bands, planesPerBand)
      .map(sigCall).mkString("array(", ", ", ")"))
    fixedVecs(spark, dir)
      .select(col("vec_id"), col("v"), col("nrm"),
        posexplode(sigArr).as(Seq("band", "sig")))
  }

  /** [[embeddingNearDup]] at an explicit `(bands, planesPerBand)` config:
    * one self-join on `(band, sig)` replaces the per-band join union, so
    * the dial can widen without adding exchanges — `planesPerBand` is the
    * occupancy knob (buckets/band = 2^planes; should grow ~log n) and
    * `bands` the recall knob. The exact cosine filter is config-invariant;
    * only WHICH candidate pairs get scored changes.
    */
  def embeddingNearDupWith(spark: SparkSession, dir: String,
      bands: Int, planesPerBand: Int): DataFrame = {
    val sigs = embBandSigs(spark, dir, bands, planesPerBand)
    sigs.as("a").join(sigs.as("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id"),
        (expr(dotExpr("a.v", "b.v")) / (sqrt(col("a.nrm")) * sqrt(col("b.nrm")))).as("cos"))
      .filter(col("cos") >= DupThreshold)
      .select(col("a_id"), col("b_id"), round(col("cos"), 6).as("cosine"))
      .distinct() // a pair may collide in several bands; cos is exact so rows tie
  }

  /** Cluster-scoped semantic dedup — the SemDeDup shape (Abbas et al.
    * 2023, arXiv:2303.09540): partition the embedding space with the
    * deterministic coarse quantizer ([[ivfAssignments]]' seed cells, the
    * same inverted lists `ann_ivf` probes and `sketch_occupancy` watches
    * as `ivf_cell`), then compare pairs ONLY within a cell and drop every
    * vector that has a lower-id cell-mate at cosine ≥ [[DupThreshold]]
    * (keep-lowest-id is the deterministic stand-in for the paper's
    * keep-farthest-from-centroid). Versus `dedup_embedding_cosine`'s
    * hyperplane bands: banding trades recall for bucket size with a
    * random dial; cells make the quadratic scope an explicit data
    * partition, which is the form that scales — at 100 TB the cell count
    * grows with n so the per-cell pair work stays bounded, and the ONLY
    * exchange over the corpus is the shuffle on `c_id`.
    */
  def semanticDedup(spark: SparkSession, dir: String): DataFrame =
    semanticDedupWith(spark, dir, DupThreshold, CentroidMod)

  /** [[semanticDedup]] at an explicit `(threshold, centroidMod)` — the
    * dial surface `graft.Tune sem` sweeps: the threshold is the
    * aggressiveness knob (higher ⇒ fewer drops, monotone — spec-pinned),
    * `centroidMod` the cell-width/recall trade (more cells ⇒ cheaper
    * pair join but near-dups straddling a cell boundary go unseen — the
    * same recall-for-scan dial as every bucketed sketch here).
    */
  def semanticDedupWith(spark: SparkSession, dir: String,
      threshold: Double, centroidMod: Int): DataFrame = {
    val vecs = fixedVecs(spark, dir)
    semanticFromAssigned(
      assignNearestLocal(vecs, seedCentsEvery(vecs, centroidMod)), threshold)
  }

  /** The SemDeDup verdict over a precomputed `assigned(vec_id, v, nrm,
    * c_id, …)` membership frame — shared verbatim by the batch
    * [[semanticDedupWith]] and `stream_semantic`'s drained-state readoff
    * (the membership frame is EXACTLY the state `stream_ann` maintains).
    */
  private[graft] def semanticFromAssigned(assigned: DataFrame,
      threshold: Double): DataFrame = {
    val lower = assigned.select(col("c_id").as("a_cid"), col("vec_id").as("a_id"),
      col("v").as("av"), col("nrm").as("an"))
    val dups = assigned.join(lower,
        col("c_id") === col("a_cid") && col("a_id") < col("vec_id"))
      .filter(expr(dotExpr("v", "av")) / (sqrt(col("nrm")) * sqrt(col("an")))
        >= threshold)
      .groupBy("vec_id").agg(min("a_id").as("dup_of"))
    assigned.select("vec_id", "c_id")
      .join(dups, Seq("vec_id"), "left")
      .select(col("vec_id"), col("c_id"), col("dup_of"),
        col("dup_of").isNull.as("kept"))
  }

  // lazy: renders CentroidMod, which is declared LATER in this object —
  // a strict val here would bake in the uninitialized 0 (vec_id % 0)
  private[graft] lazy val semanticDedupSql: String =
    s"""WITH $fixedVecsCtes,
       |${ivfAssignCtes("sd_")},
       |av AS (
       |  SELECT a.vec_id, a.c_id, n.v, n.nrm
       |  FROM sd_assigned a JOIN nv n ON a.vec_id = n.vec_id
       |),
       |dups AS (
       |  SELECT b.vec_id, min(a.vec_id) AS dup_of
       |  FROM av a JOIN av b ON a.c_id = b.c_id AND a.vec_id < b.vec_id
       |  WHERE CAST(list_sum([a.v[i] * b.v[i] for i in generate_series(1, len(a.v))]) AS BIGINT)
       |          / (sqrt(a.nrm) * sqrt(b.nrm)) >= $DupThreshold
       |  GROUP BY 1
       |)
       |SELECT av.vec_id, av.c_id, d.dup_of, d.dup_of IS NULL AS kept
       |FROM av LEFT JOIN dups d ON av.vec_id = d.vec_id""".stripMargin

  /** Per-vector LSH table signatures `(vec_id, t, b)` at an explicit
    * `(tables, planes)` config — `sketch_occupancy`'s view of the ANN
    * buckets, parametric so the occupancy gate can watch a PROPOSED dial
    * before the operator ships it.
    */
  private[graft] def lshTableSigsWith(spark: SparkSession, dir: String,
      tables: Int, planes: Int): DataFrame = {
    val sigArr = expr(tablePlanesFor(tables, planes)
      .map(sigCall).mkString("array(", ", ", ")"))
    fixedVecs(spark, dir)
      .select(col("vec_id"), posexplode(sigArr).as(Seq("t", "b")))
  }

  private val embeddingNearDupSql: String = {
    val elem = (i: Int) => s"v[$i]"
    def bandJoin(sig: String) =
      s"""SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         |       CAST(list_sum([a.v[i] * b.v[i] for i in generate_series(1, len(a.v))]) AS BIGINT)
         |         / (sqrt(a.nrm) * sqrt(b.nrm)) AS cos
         |FROM sigs a JOIN sigs b ON a.$sig = b.$sig AND a.vec_id < b.vec_id""".stripMargin
    s"""WITH $fixedVecsCtes,
       |sigs AS (
       |  SELECT vec_id, v, nrm,
       |         ${sigExpr(0, elem)} AS sig0,
       |         ${sigExpr(1, elem)} AS sig1
       |  FROM nv
       |),
       |pairs AS (
       |  ${bandJoin("sig0")}
       |  UNION ALL
       |  ${bandJoin("sig1")}
       |)
       |SELECT DISTINCT a_id, b_id, round(cos, 6) AS cosine
       |FROM pairs WHERE cos >= $DupThreshold""".stripMargin
  }

  // ------------------------------------------------------------ IVF variant

  val CentroidMod = 125 // coarse quantizer: every 125th vector is a centroid
  val NProbe = 2

  /** Per-vector nearest-centroid assignment (argmax cosine, c_id asc
    * tiebreak) as a `max_by` PARTIAL AGGREGATION instead of a window rank:
    * after the broadcast crossJoin each vector's k scored rows are
    * co-resident by construction, so the partial aggregate collapses them
    * to ONE buffer map-side — the exchange carries n rows, not n×k (the
    * r4 window shuffled and ranked the full n×k). The struct ordering key
    * makes this a SortAggregate (struct buffers aren't hash-aggregable),
    * but its partial sort is by the group key alone on map-local rows;
    * the n×k data never crosses the wire. The tiebreak rides inside the
    * ordering key `struct(ccos, -c_id)`, which is unique, so `max_by` is
    * deterministic and agrees bit-for-bit with the oracle's
    * `row_number() ... ORDER BY ccos DESC, c_id` at rank 1.
    */
  private[graft] def assignNearest(vecs: DataFrame, cents: DataFrame): DataFrame =
    vecs.crossJoin(broadcast(cents))
      .withColumn("ccos",
        expr(dotExpr("v", "cv")) / (sqrt(col("nrm")) * sqrt(col("cn"))))
      .groupBy("vec_id")
      .agg(max_by(struct(col("v"), col("nrm"), col("c_id"), col("ccos")),
        struct(col("ccos"), -col("c_id"))).as("b"))
      .select(col("vec_id"), col("b.v").as("v"), col("b.nrm").as("nrm"),
        col("b.c_id").as("c_id"), col("b.ccos").as("ccos"))

  /** ROW-LOCAL top-`nprobe` cell selection (r16, guide §2.4 "remove
    * shuffles outright"): the quantizer is collapsed to ONE
    * array-of-structs row (a single-row broadcast nested-loop join ≈
    * attaching a constant column — works for ANY cents frame, no driver
    * collect) and each vector ranks the k scored cells with the native
    * `vec_top_cells` kernel, so the assignment is a pure map-side
    * projection: the corpus NEVER shuffles. [[assignNearest]]'s `max_by`
    * already kept the n×k scored rows off the wire, but it still
    * exchanged the FULL corpus (id + vector + norm, n rows) to group by
    * vec_id — at 100 TB that exchange IS the corpus, paid once per
    * assignment pass by every IVF/graph/chunk consumer. Selection key =
    * (ccos DESC, c_id ASC) with per-pair arithmetic identical to the agg
    * form, so the rows are bit-equal (Round16Spec pins local == agg ==
    * the oracle's window form). The agg form stays for the complete-mode
    * STREAMING paths (stream_ann / stream_semantic), where the
    * aggregation itself is the live index state.
    */
  private[graft] def withTopCells(df: DataFrame, cents: DataFrame,
      vCol: String, nCol: String, nprobe: Int): DataFrame = {
    graft.functions.GraftExtensions.register(df.sparkSession)
    df.crossJoin(broadcast(cents.agg(
        sort_array(collect_list(struct(col("c_id"), col("cv"), col("cn"))))
          .as("_cents"))))
      // an empty quantizer picks no cell: no rows, as in [[assignNearest]]
      // (the filter lands on the one-row side, so the kernel runs once)
      .filter(size(col("_cents")) > 0)
      .withColumn("_top", expr(s"vec_top_cells($vCol, $nCol, _cents, $nprobe)"))
      .drop("_cents")
  }

  /** [[assignNearest]] with the corpus exchange removed — same columns,
    * bit-equal rows (see [[withTopCells]]); every BATCH assignment call
    * site rides this.
    */
  private[graft] def assignNearestLocal(vecs: DataFrame, cents: DataFrame): DataFrame =
    withTopCells(vecs, cents, "v", "nrm", 1)
      .select(col("vec_id"), col("v"), col("nrm"),
        expr("_top[0].c_id").as("c_id"), expr("_top[0].ccos").as("ccos"))

  /** Seed quantizer at an explicit spacing: every `mod`-th vector serves
    * as a centroid — deterministic, data-independent. `mod` IS the
    * cell-count dial (k ≈ n/mod): halving it doubles the quantizer's
    * cells and halves the expected inverted-list length.
    */
  private[graft] def seedCentsEvery(vecs: DataFrame, mod: Int): DataFrame =
    vecs.filter(col("vec_id") % mod === 1)
      .select(col("vec_id").as("c_id"), col("v").as("cv"), col("nrm").as("cn"))

  /** [[seedCentsEvery]] at the shipped [[CentroidMod]] — the starting
    * point [[trainedCents]] refines.
    */
  private[graft] def seedCents(vecs: DataFrame): DataFrame =
    seedCentsEvery(vecs, CentroidMod)

  /** IVF-flat ANN: a deterministic coarse quantizer (seed centroids by
    * default; [[ivfTrained]] slots the k-means-refined set in unchanged),
    * inverted lists by nearest centroid, probes scan only their `NProbe`
    * nearest lists, exact cosine re-rank inside. At 100 TB the inverted
    * lists are the partition layout: a probe touches NProbe/centroids of
    * the corpus.
    */
  def ivf(spark: SparkSession, dir: String): DataFrame =
    ivfWith(spark, dir, CentroidMod, NProbe)

  /** [[ivf]] at an explicit `(centroidMod, nprobe)` config — the IVF dial
    * surface: `centroidMod` sets the cell count (k ≈ n/mod, the
    * inverted-list-length knob `sketch_occupancy` watches as `ivf_cell`),
    * `nprobe` the scanned-lists recall knob.
    */
  def ivfWith(spark: SparkSession, dir: String,
      centroidMod: Int, nprobe: Int = NProbe): DataFrame = {
    val vecs = fixedVecs(spark, dir)
    topKFromCands(ivfCands(vecs, seedCentsEvery(vecs, centroidMod), nprobe))
  }

  /** IVF over an explicit `(c_id, cv, cn)` centroid frame. */
  private[graft] def ivfFrom(vecs: DataFrame, cents: DataFrame): DataFrame =
    topKFromCands(ivfCands(vecs, cents, NProbe))

  /** Scored IVF candidates `(q_id, vec_id, cos)` for a given quantizer and
    * probe width — shared by [[ivfFrom]] and `graft.Tune ivf`.
    */
  private[graft] def ivfCands(vecs: DataFrame, cents: DataFrame, nprobe: Int): DataFrame =
    // Corpus assignment is the sort-free max_by aggregation (see
    // [[assignNearest]]); the probe top-nprobe lists still use a window
    // rank, but only over the 1/ProbeMod probe SUBSET × k — negligible
    // beside the corpus, and filtering before the crossJoin keeps the
    // big branch free of any n×k exchange or sort.
    ivfCandsFromAssigned(assignNearestLocal(vecs, cents),
      ivfProbeLists(vecs, cents, nprobe))

  /** Per-probe top-`nprobe` cell routing `(q_id, qv, qn, c_id)` — the
    * query side of the IVF join, shared with `stream_ann`'s readoff.
    */
  private[graft] def ivfProbeLists(vecs: DataFrame, cents: DataFrame,
      nprobe: Int): DataFrame =
    // row-local top-nprobe (r16): same (ccos DESC, c_id ASC) selection
    // the window rank computed, minus the probe-subset exchange + sort
    withTopCells(vecs.filter(col("vec_id") % ProbeMod === 0), cents,
        "v", "nrm", nprobe)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"),
        explode(expr("_top.c_id")).as("c_id"))

  /** The inverted-list probe join over a precomputed `assigned(vec_id, v,
    * nrm, c_id)` membership frame — shared verbatim by the batch [[ivf]]
    * family and `stream_ann` (whose membership frame is streaming state).
    */
  private[graft] def ivfCandsFromAssigned(assigned: DataFrame,
      probeLists: DataFrame): DataFrame =
    assigned.join(broadcast(probeLists), Seq("c_id"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        (expr(dotExpr("v", "qv")) / (sqrt(col("nrm")) * sqrt(col("qn")))).as("cos"))

  /** IVF oracle over an arbitrary `cents(c_id, cv, cn)` CTE chain. */
  private def ivfSqlFrom(centsCtes: String): String =
    s"""WITH $fixedVecsCtes,
       |$centsCtes,
       |cdist AS (
       |  SELECT n.vec_id, n.v, n.nrm, c.c_id,
       |         CAST(list_sum([n.v[i] * c.cv[i] for i in generate_series(1, len(n.v))]) AS BIGINT)
       |           / (sqrt(n.nrm) * sqrt(c.cn)) AS ccos
       |  FROM nv n CROSS JOIN cents c
       |),
       |ranked_c AS MATERIALIZED (
       |  SELECT vec_id, v, nrm, c_id,
       |         row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, c_id) AS crn
       |  FROM cdist
       |),
       |assigned AS (SELECT vec_id, v, nrm, c_id FROM ranked_c WHERE crn = 1),
       |probe_lists AS (
       |  SELECT vec_id AS q_id, v AS qv, nrm AS qn, c_id
       |  FROM ranked_c WHERE vec_id % $ProbeMod = 0 AND crn <= $NProbe
       |),
       |cands AS (
       |  SELECT p.q_id, a.vec_id,
       |         CAST(list_sum([a.v[i] * p.qv[i] for i in generate_series(1, len(a.v))]) AS BIGINT) AS dot,
       |         a.nrm, p.qn
       |  FROM assigned a JOIN probe_lists p ON a.c_id = p.c_id AND a.vec_id <> p.q_id
       |),
       |ranked AS (
       |  SELECT q_id, vec_id, dot / (sqrt(nrm) * sqrt(qn)) AS cos,
       |         row_number() OVER (PARTITION BY q_id ORDER BY dot / (sqrt(nrm) * sqrt(qn)) DESC, vec_id) AS rank
       |  FROM cands
       |)
       |SELECT q_id AS query_id, vec_id AS neighbor_id, CAST(rank AS INT) AS rank,
       |       round(cos, 6) AS cosine
       |FROM ranked WHERE rank <= $TopK""".stripMargin

  private val seedCentsCte: String =
    s"cents AS (SELECT vec_id AS c_id, v AS cv, nrm AS cn FROM nv WHERE vec_id % $CentroidMod = 1)"

  private[graft] val ivfSql: String = ivfSqlFrom(seedCentsCte)

  /** Per-vector seed-quantizer assignment `(vec_id, c_id)` at an explicit
    * centroid spacing — the IVF inverted-list membership
    * `sketch_occupancy` measures (list sizes ARE the scan-fraction dial),
    * parametric like [[lshTableSigsWith]].
    */
  private[graft] def ivfAssignmentsWith(spark: SparkSession, dir: String,
      centroidMod: Int): DataFrame = {
    val vecs = fixedVecs(spark, dir)
    assignNearestLocal(vecs, seedCentsEvery(vecs, centroidMod)).select("vec_id", "c_id")
  }

  /** [[ivfAssignmentsWith]] at the shipped [[CentroidMod]]. */
  private[graft] def ivfAssignments(spark: SparkSession, dir: String): DataFrame =
    ivfAssignmentsWith(spark, dir, CentroidMod)

  /** Per-cell inverted-list sizes `(c_id, occ)` for an arbitrary
    * quantizer — the occupancy view `graft.Tune ivf` reports next to
    * recall for the seed/trained/balanced quantizers.
    */
  private[graft] def assignNearestOcc(vecs: DataFrame, cents: DataFrame): DataFrame =
    assignNearestLocal(vecs, cents).groupBy("c_id").agg(count(lit(1)).as("occ"))

  /** CTE chain `{p}cents … {p}assigned(vec_id, c_id)` — the DuckDB mirror
    * of [[ivfAssignmentsWith]] (expects `nv` in scope; prefixed like
    * [[sigCtes]] for composition in the occupancy oracle, and
    * parameterized by the same centroid spacing the Spark side takes).
    * Identical argmax + c_id-asc tiebreak to the `ann_ivf` oracle's
    * `assigned` CTE.
    */
  private[graft] def ivfAssignCtes(p: String, centroidMod: Int = CentroidMod): String =
    s"""${p}cents AS (SELECT vec_id AS c_id, v AS cv, nrm AS cn FROM nv WHERE vec_id % $centroidMod = 1),
       |${p}cdist AS (
       |  SELECT n.vec_id, c.c_id,
       |         CAST(list_sum([n.v[i] * c.cv[i] for i in generate_series(1, len(n.v))]) AS BIGINT)
       |           / (sqrt(n.nrm) * sqrt(c.cn)) AS ccos
       |  FROM nv n CROSS JOIN ${p}cents c
       |),
       |${p}assigned AS MATERIALIZED (
       |  SELECT vec_id, c_id FROM (
       |    SELECT vec_id, c_id,
       |           row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, c_id) AS crn
       |    FROM ${p}cdist
       |  ) WHERE crn = 1
       |)""".stripMargin

  // ------------------------------------------------ knn_graph_ivf (ANN-backed)

  /** Mutual-kNN edges from IVF CELL-MATE candidates — the 100 TB edge
    * generator the exact [[mutualKnnEdges]] slice form is the recall
    * harness for. The quantizer is the corpus-wide seed quantizer (the
    * SAME cells `ann_ivf` probes and `dedup_semantic` scopes), `verts` is
    * whichever vertex frame the caller passes (full corpus for the
    * shipped ops; the `%5` slice for [[knnGraphRecall]]'s measurement),
    * and each vertex's top-[[TopK]] list is computed WITHIN its cell —
    * the SemDeDup scope bound: per-cell pair work is |cell|², so total
    * work is ~|cell|·n and the cell count is the dial that keeps |cell|
    * bounded as n grows. Vectors whose true neighbors straddle a cell
    * boundary lose those edges — the measured recall trade
    * ([[knnGraphRecall]], docs/TUNING.md).
    *
    * Plan shape: ONE broadcast-centroid argmax assignment (the sort-free
    * [[assignNearest]] max_by), then a self-join shuffling BOTH sides on
    * `c_id` (hash-partitioned equality join, never a broadcast of the
    * corpus), a per-vertex top-k window inside the cell partition, and
    * the reversed-edge mutuality self-join on the k·n-row list.
    */
  /** Cells each vertex JOINS for candidate generation — the boundary-
    * recall dial: with 1, a vector whose true neighbors sit across its
    * cell boundary loses those edges entirely; with 2 every vector also
    * meets its second-nearest cell's members (the IVF nprobe idea applied
    * to index-side membership — the standard multi-assignment trick
    * kNN-graph builders use). Candidate work scales ~nprobe² per cell.
    * r14: 2 → 3 with the TRAINED quantizer — the sf0.1 sweep (docs/
    * TUNING.md) reads 0.767/0.783 (cells/refined) edge recall at
    * trained-125/3 vs 0.434/0.476 at seed-125/2, for ~2.25× in-cell pair
    * work and an unchanged exchange shape; sf0.01 at the new dial is
    * 1.000. r15: 3 → 4 — the next measured knee (sweep table in
    * TUNING.md): sf0.1 edge recall 0.934 cells / 0.940 refined at the
    * SAME cell width (trained-125), ~1.78× in-cell pair work over
    * nprobe 3, still no exchange-shape change; a THIRD NN-Descent round
    * measured +0.000 at every dial point, so KnnRefineRounds stays 2.
    */
  val KnnGraphNProbe = 4

  /** Top-`nprobe` cell MEMBERSHIPS `(vec_id, v, nrm, c_id)` — chained
    * [[assignNearest]] max_by passes (each pass re-scores with the cells
    * already picked excluded), NOT a window over the n×k scored frame:
    * each pass partial-combines map-side so the exchange carries n rows,
    * never n×|cells| — the property that makes the assignment
    * scale-honest at 100 TB. Equivalent to the top-N of (ccos desc,
    * c_id asc) per vector, which is what the oracle's `crn <= nprobe`
    * window computes.
    */
  private[graft] def assignTopN(verts: DataFrame, cents: DataFrame,
      nprobe: Int): DataFrame =
    // r16: ONE row-local pass (guide §2.4). The r15 form chained nprobe
    // max_by aggregations (each pass re-scoring with picked cells
    // excluded, localCheckpointed against union-arm lineage) — nprobe
    // corpus exchanges and nprobe scoring passes where the top-N of
    // (ccos DESC, c_id ASC) is ONE map-side projection per vector: the
    // chained argmax picks exactly that sequence, so the membership rows
    // are identical (Round16Spec pins it against the oracle's window
    // form) and the corpus never shuffles or checkpoints at all.
    withTopCells(verts, cents, "v", "nrm", nprobe)
      .select(col("vec_id"), col("v"), col("nrm"),
        explode(expr("_top.c_id")).as("c_id"))

  private[graft] def mutualKnnEdgesIvf(spark: SparkSession, dir: String,
      verts: DataFrame, tag: String): DataFrame = {
    val pinnedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val lists = cellKnnLists(spark, graphCents(spark, dir), verts,
      KnnGraphNProbe)
    mutualFromSpilledLists(spark, dir, lists, s"knn_cell_lists_$tag",
      pinnedBefore)
  }

  /** [[mutualKnnEdgesIvf]] at an explicit `(source, centroidMod, nprobe)`
    * — the dial surface `graft.Tune knngraph` sweeps (docs/TUNING.md
    * records the frontier; nprobe 1→2 measured 0.36→0.92 edge recall at
    * sf0.01; seed→trained quantizer is the r14 lever).
    */
  private[graft] def mutualKnnEdgesIvfWith(spark: SparkSession, dir: String,
      verts: DataFrame, source: String, centroidMod: Int, nprobe: Int): DataFrame = {
    val pinnedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val lists = cellKnnLists(spark,
      centsFor(spark, dir, source, centroidMod), verts, nprobe)
    mutualFromSpilledLists(spark, dir, lists,
      s"knn_cell_lists_tune_${source}_${centroidMod}_$nprobe", pinnedBefore)
  }

  /** Spill the top-k lists ONCE and run the mutuality self-join over the
    * parquet readback: [[mutualFromLists]] references its input on both
    * sides of the reversed-edge join, so left as lineage the WHOLE
    * list-building chain (membership assignment, cell-mate self-join,
    * exact re-rank, top-k window) executed twice per consumer (measured
    * ~2× on the graph keys). The write also bounds the sweep window:
    * every block the chain checkpointed ([[assignTopN]]'s per-pass
    * materialization) is freed here, so the RETURNED plan pins zero
    * block-manager state — the dedup_cluster contract.
    */
  private def mutualFromSpilledLists(spark: SparkSession, dir: String,
      lists: DataFrame, tag: String,
      pinnedBefore: scala.collection.Set[Int]): DataFrame = {
    val spill = graft.model.Spill.path(spark, tag, dir)
    lists.write.mode("overwrite").parquet(spill)
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!pinnedBefore.contains(id)) rdd.unpersist(false) }
    mutualFromLists(spark.read.parquet(spill))
  }

  /** Quantizer selection for the tune sweeps: `seed` = every mod-th
    * vector; `trained` = [[TrainIters]] Lloyd rounds from those seeds.
    */
  private[graft] def centsFor(spark: SparkSession, dir: String,
      source: String, centroidMod: Int): DataFrame = source match {
    case "seed" => seedCentsEvery(fixedVecs(spark, dir), centroidMod)
    case "trained" => mkCentsDf(spark,
      trainedCents(spark, dir, TrainIters, None, centroidMod)._1)
    case other => throw new IllegalArgumentException(
      s"unknown centroid source '$other' (seed|trained)")
  }

  /** The SHIPPED graph-family quantizer: Lloyd-TRAINED centroids at the
    * house [[CentroidMod]] — the r13 verdict's scale finding (seed
    * quantizer edge recall collapses 0.92→0.43 from sf0.01 to sf0.1 at
    * fixed dials; training buys recall back at zero probe cost, measured
    * in docs/TUNING.md's seed-vs-trained frontier).
    */
  private[graft] def graphCents(spark: SparkSession, dir: String): DataFrame =
    mkCentsDf(spark, trainedCents(spark, dir)._1)

  /** Per-vertex top-[[TopK]] lists `(q_id, n_id)` from IVF cell-mate
    * candidates — the seed lists both the plain graph ([[mutualFromLists]]
    * directly) and the NN-Descent refinement ([[refinedKnnLists]]) rank
    * from.
    */
  private[graft] def cellKnnLists(spark: SparkSession, cents: DataFrame,
      verts: DataFrame, nprobe: Int): DataFrame = {
    val assigned = assignTopN(verts, cents, nprobe)
    assigned.join(
        assigned.select(col("c_id").as("m_cid"), col("vec_id").as("m_id"),
          col("v").as("mv"), col("nrm").as("mn")),
        col("c_id") === col("m_cid") && col("vec_id") =!= col("m_id"))
      .select(col("vec_id"), col("m_id"),
        (expr(dotExpr("v", "mv")) / (sqrt(col("nrm")) * sqrt(col("mn")))).as("cos"))
      // a pair sharing BOTH probed cells scores identically twice — collapse
      // before ranking or the duplicate eats a top-k slot
      .distinct()
      .withColumn("rank", row_number().over(
        Window.partitionBy("vec_id").orderBy(col("cos").desc, col("m_id"))))
      .filter(col("rank") <= TopK)
      .select(col("vec_id").as("q_id"), col("m_id").as("n_id"))
  }

  /** Reciprocated (directed both ways) edges from a top-k list frame. */
  private[graft] def mutualFromLists(knn: DataFrame): DataFrame =
    knn.as("x").join(knn.as("y"),
        col("x.q_id") === col("y.n_id") && col("x.n_id") === col("y.q_id"))
      .select(col("x.q_id").as("q_id"), col("x.n_id").as("n_id"))

  /** NN-Descent rounds (Dong et al., WWW'11: a vertex's true neighbors
    * are likely neighbors-OF-neighbors) over the IVF-seeded lists: each
    * round's candidates = the current lists plus every one-hop expansion
    * `(q → n1 → n2)`, exact cosine re-rank, per-vertex top-[[TopK]].
    * This is how the graph buys back recall the cell boundary costs
    * WITHOUT widening cells: candidate work is ≤ k+k² per vertex per
    * round (corpus-linear), the expansion is one self-join of the
    * k·n-row list on its own key, and the re-scoring joins carry ids +
    * one vector per side — the edge-partitioned join shape. Measured
    * (docs/TUNING.md): mutual-edge recall at the shipped dial converges
    * by round 2 — sf0.1 0.434 → 0.469 → 0.476 (rounds 3-4 add ≤0.001),
    * sf0.01 0.921 → 0.942.
    */
  /** NN-Descent rounds shipped by `knn_graph_refined` (and the refined
    * row of `knn_graph_recall`) — swept by `graft.Tune knngraph`.
    */
  val KnnRefineRounds = 2

  /** `tag` discriminates the spill paths: the same JVM runs this with
    * different vertex frames and dials (full corpus vs the recall slice,
    * tune sweeps), and the returned frame reads its final spill LAZILY —
    * undiscriminated tags would let a second call's overwrite silently
    * serve the first call's reader (r13 advice). The spill name folds in
    * tag, nprobe AND rounds; the one discriminator it cannot encode is
    * the CENTS identity — callers passing different centroid frames under
    * the same tag (tune sweeps) MUST use distinct tags or materialize
    * before issuing the next call (r14 advice, documented contract).
    */
  private[graft] def refinedKnnLists(spark: SparkSession, dir: String,
      verts: DataFrame, cents: DataFrame, nprobe: Int,
      rounds: Int = KnnRefineRounds, tag: String = "full",
      seedLists: Option[DataFrame] = None): DataFrame = {
    val pinnedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val qside = verts.select(col("vec_id").as("q_id"),
      col("v").as("qv"), col("nrm").as("qn"))
    val nside = verts.select(col("vec_id").as("n_id"),
      col("v").as("cv2"), col("nrm").as("cn2"))
    // seedLists: a caller that has ALREADY built (and spilled) the
    // cell-mate top-k lists for the same (verts, cents, nprobe) passes
    // them in — knn_graph_recall's ivf arm and its refined arm's seed are
    // the identical frame, and rebuilding it paid the whole assignment
    // chain a second time.
    var lists = seedLists.getOrElse(cellKnnLists(spark, cents, verts, nprobe))
    for (r <- 1 to rounds) {
      // each round's DAG references the previous lists THREE times (the
      // union's left arm + both sides of the expansion self-join); left
      // as lineage the recompute is ~3^rounds of the seed plan (measured
      // 7.6 s at rounds=2 on the bench vs ~2 s materialized). r16:
      // localCheckpoint instead of a per-round parquet spill — the same
      // lineage truncation without a filesystem write+read per round
      // (the id-pair frame is k·n rows of two longs), and the blocks are
      // freed by the sweep below; only the FINAL lists still go through
      // the shared-storage spill gate, because the RETURNED plan must
      // pin nothing (the dedup_cluster contract).
      val prev = lists.localCheckpoint()
      val cand = prev
        .union(prev.as("a").join(prev.as("b"),
          col("a.n_id") === col("b.q_id") && col("b.n_id") =!= col("a.q_id"))
          .select(col("a.q_id").as("q_id"), col("b.n_id").as("n_id")))
        .distinct()
      lists = cand.join(qside, "q_id").join(nside, "n_id")
        .withColumn("cos",
          expr(dotExpr("cv2", "qv")) / (sqrt(col("cn2")) * sqrt(col("qn"))))
        .withColumn("rank", row_number().over(
          Window.partitionBy("q_id").orderBy(col("cos").desc, col("n_id"))))
        .filter(col("rank") <= TopK)
        .select("q_id", "n_id")
    }
    // the caller's mutuality test self-joins the returned lists (2×
    // recompute of the last round left as lineage) — spill the final
    // frame too, so consumers read a k·n-row parquet
    val out = graft.model.Spill.path(spark,
      s"knn_refined_${tag}_${nprobe}_r${rounds}_lists_final", dir)
    lists.write.mode("overwrite").parquet(out)
    // free the blocks the seed chain checkpointed (assignTopN's per-pass
    // materialization) — every round has read its input from spill, so
    // the returned plan depends on parquet only
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!pinnedBefore.contains(id)) rdd.unpersist(false) }
    spark.read.parquet(out)
  }

  /** CTE chain `{p}verts … {p}assigned … {p}knn(q_id, n_id) … {p}me(u, v)`
    * — the DuckDB mirror of [[mutualKnnEdgesIvf]] over the vertex
    * predicate `vertPred`, prefixed for composition (expects `nv` in
    * scope). Same argmax/tiebreak as [[ivfAssignCtes]], same top-k
    * ordering as the `km_*` exact chain.
    */
  private[graft] def knnIvfCtes(p: String, vertPred: String): String =
    s"""${p}verts AS (SELECT vec_id, v, nrm FROM nv WHERE $vertPred),
       |${p}cents AS (SELECT c_id, cv, cn FROM cents$TrainIters),
       |${p}cdist AS (
       |  SELECT n.vec_id, n.v, n.nrm, c.c_id,
       |         CAST(list_sum([n.v[i] * c.cv[i] for i in generate_series(1, len(n.v))]) AS BIGINT)
       |           / (sqrt(n.nrm) * sqrt(c.cn)) AS ccos
       |  FROM ${p}verts n CROSS JOIN ${p}cents c
       |),
       |${p}assigned AS MATERIALIZED (
       |  SELECT vec_id, v, nrm, c_id FROM (
       |    SELECT vec_id, v, nrm, c_id,
       |           row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, c_id) AS crn
       |    FROM ${p}cdist
       |  ) WHERE crn <= $KnnGraphNProbe
       |),
       |${p}pairs AS (
       |  SELECT DISTINCT a.vec_id AS q_id, b.vec_id,
       |         CAST(list_sum([a.v[i] * b.v[i] for i in generate_series(1, len(a.v))]) AS BIGINT)
       |           / (sqrt(a.nrm) * sqrt(b.nrm)) AS cos
       |  FROM ${p}assigned a JOIN ${p}assigned b
       |    ON a.c_id = b.c_id AND a.vec_id <> b.vec_id
       |),
       |${p}knn AS MATERIALIZED (
       |  SELECT q_id, vec_id AS n_id FROM (
       |    SELECT q_id, vec_id,
       |           row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank
       |    FROM ${p}pairs
       |  ) WHERE rank <= $TopK
       |),
       |${p}me AS MATERIALIZED (
       |  SELECT x.q_id AS u, x.n_id AS v
       |  FROM ${p}knn x JOIN ${p}knn y ON x.q_id = y.n_id AND x.n_id = y.q_id
       |)""".stripMargin

  /** CTE chain `{p}rcand … {p}rknn(q_id, n_id) … {p}rme(u, v)` — the
    * DuckDB mirror of [[refinedKnnLists]] + its mutual closure (expects
    * `nv` and `{p}knn` in scope).
    */
  private[graft] def knnRefinedCtes(p: String,
      rounds: Int = KnnRefineRounds): String = {
    def round(r: Int): String = {
      val prev = if (r == 1) s"${p}knn" else s"${p}rknn${r - 1}"
      val out = if (r == rounds) s"${p}rknn" else s"${p}rknn$r"
      s"""${p}rcand$r AS (
         |  SELECT q_id, n_id FROM $prev
         |  UNION
         |  SELECT a.q_id, b.n_id FROM $prev a JOIN $prev b
         |    ON a.n_id = b.q_id AND b.n_id <> a.q_id
         |),
         |${p}rscored$r AS (
         |  SELECT c.q_id, c.n_id,
         |         CAST(list_sum([n.v[i] * q.v[i] for i in generate_series(1, len(n.v))]) AS BIGINT)
         |           / (sqrt(n.nrm) * sqrt(q.nrm)) AS cos
         |  FROM ${p}rcand$r c
         |  JOIN nv q ON q.vec_id = c.q_id
         |  JOIN nv n ON n.vec_id = c.n_id
         |),
         |$out AS MATERIALIZED (
         |  SELECT q_id, n_id FROM (
         |    SELECT q_id, n_id,
         |           row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank
         |    FROM ${p}rscored$r
         |  ) WHERE rank <= $TopK
         |)""".stripMargin
    }
    s"""${(1 to rounds).map(round).mkString(",\n")},
       |${p}rme AS MATERIALIZED (
       |  SELECT x.q_id AS u, x.n_id AS v
       |  FROM ${p}rknn x JOIN ${p}rknn y ON x.q_id = y.n_id AND x.n_id = y.q_id
       |)""".stripMargin
  }

  /** Mutual-kNN degrees over the FULL corpus from IVF cell-mate edges —
    * the scale-honest form of `knn_mutual` (whose exact kNN is
    * slice-bound by design). Same output shape; every vector gets a
    * degree, zero-degree vertices kept.
    */
  def knnGraphIvf(spark: SparkSession, dir: String): DataFrame = {
    val verts = fixedVecs(spark, dir)
    val mutual = mutualKnnEdgesIvf(spark, dir, verts, "graph_full")
      .groupBy(col("q_id").as("vec_id"))
      .agg(count(lit(1)).as("mutual_degree"))
    verts.select("vec_id").join(mutual, Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("mutual_degree"), lit(0L)).as("mutual_degree"))
  }

  // lazy: renders kmeansIterCtes, declared LATER — the CentroidMod
  // init-order gotcha
  private lazy val knnGraphIvfSql: String =
    s"""WITH $fixedVecsCtes,
       |$kmeansIterCtes,
       |${knnIvfCtes("kg_", "TRUE")},
       |kg_mutual AS (
       |  SELECT u AS vec_id, CAST(count(*) AS BIGINT) AS mutual_degree
       |  FROM kg_me GROUP BY 1
       |)
       |SELECT v.vec_id, coalesce(m.mutual_degree, 0) AS mutual_degree
       |FROM kg_verts v LEFT JOIN kg_mutual m ON v.vec_id = m.vec_id""".stripMargin

  /** Connected components over the FULL-corpus IVF mutual-kNN graph —
    * `knn_components` fed by the ANN-backed edge generator instead of the
    * exact slice kNN: the same [[graft.operators.Dedup.componentsFrom]]
    * pointer-doubled propagation, the same recursive-CTE oracle closure,
    * over edges that exist at 100 TB.
    */
  def knnComponentsIvf(spark: SparkSession, dir: String): DataFrame =
    Dedup.componentsFrom(spark, dir,
      mutualKnnEdgesIvf(spark, dir, fixedVecs(spark, dir), "comp_full")
        .filter(col("q_id") < col("n_id")),
      "q_id", "n_id", fixedVecs(spark, dir).select("vec_id"),
      "vec_id", "knn_ivf_labels")

  private lazy val knnComponentsIvfSql: String =
    s"""WITH RECURSIVE $fixedVecsCtes,
       |$kmeansIterCtes,
       |${knnIvfCtes("kg_", "TRUE")},
       |reach(v, r) AS (
       |  SELECT u, u FROM kg_me
       |  UNION
       |  SELECT e.v, reach.r FROM kg_me e JOIN reach ON reach.v = e.u
       |),
       |comp AS (SELECT v, min(r) AS cluster_id FROM reach GROUP BY 1),
       |m AS (
       |  SELECT kv.vec_id, coalesce(c.cluster_id, kv.vec_id) AS cluster_id
       |  FROM kg_verts kv LEFT JOIN comp c ON kv.vec_id = c.v
       |),
       |sizes AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members FROM m GROUP BY 1)
       |SELECT m.vec_id, m.cluster_id, s.n_members,
       |       m.vec_id = m.cluster_id AS keep
       |FROM m JOIN sizes s USING (cluster_id)""".stripMargin

  /** Mutual-kNN degrees over the FULL corpus from the NN-DESCENT-refined
    * lists — [[knnGraphIvf]] with one neighbor-of-neighbor round on top:
    * the production graph read (the refinement recovers the cell
    * boundary's recall loss at corpus-linear cost).
    */
  def knnGraphRefined(spark: SparkSession, dir: String): DataFrame = {
    val verts = fixedVecs(spark, dir)
    val mutual = mutualFromLists(
        refinedKnnLists(spark, dir, verts, graphCents(spark, dir),
          KnnGraphNProbe, KnnRefineRounds, "full"))
      .groupBy(col("q_id").as("vec_id"))
      .agg(count(lit(1)).as("mutual_degree"))
    verts.select("vec_id").join(mutual, Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("mutual_degree"), lit(0L)).as("mutual_degree"))
  }

  private lazy val knnGraphRefinedSql: String =
    s"""WITH $fixedVecsCtes,
       |$kmeansIterCtes,
       |${knnIvfCtes("kg_", "TRUE")},
       |${knnRefinedCtes("kg_")},
       |kgr_mutual AS (
       |  SELECT u AS vec_id, CAST(count(*) AS BIGINT) AS mutual_degree
       |  FROM kg_rme GROUP BY 1
       |)
       |SELECT v.vec_id, coalesce(m.mutual_degree, 0) AS mutual_degree
       |FROM kg_verts v LEFT JOIN kgr_mutual m ON v.vec_id = m.vec_id""".stripMargin

  /** PageRank over the FULL-corpus IVF mutual-kNN graph — the third
    * ANN-backed graph read, same [[pagerankFrom]] engine and unrolled
    * integer-ppm oracle as the exact-slice `knn_pagerank`.
    */
  def knnPagerankIvf(spark: SparkSession, dir: String): DataFrame =
    pagerankFrom(spark, dir,
      mutualKnnEdgesIvf(spark, dir, fixedVecs(spark, dir), "pr_full"),
      fixedVecs(spark, dir).select("vec_id"), "knn_pagerank_ivf_edges")

  private lazy val knnPagerankIvfSql: String =
    pagerankSqlOver(s"$kmeansIterCtes,\n${knnIvfCtes("kg_", "TRUE")}",
      "kg_verts", "kg_me")

  /** Edge recall of the IVF cell-mate graph against exact ground truth,
    * measured on the tractable `%`[[KnnGraphMod]] slice (the `ann_recall`
    * pattern: the approximate method runs on the SAME vertex set the
    * exact harness can afford, so the hit rate is a true recall). One
    * row: directed-mutual-edge counts for truth and approximation, the
    * intersection, and the recall ratio (two edge COUNTS, one IEEE
    * division — the house float bound).
    */
  /** The exact slice edge set / the IVF slice edge set at an explicit
    * dial — `graft.Tune knngraph`'s two measurement surfaces.
    */
  private[graft] def exactSliceEdges(spark: SparkSession, dir: String): DataFrame =
    mutualKnnEdges(spark, dir, "tune_slice")
  private[graft] def sliceEdgesIvfWith(spark: SparkSession, dir: String,
      source: String, centroidMod: Int, nprobe: Int): DataFrame =
    mutualKnnEdgesIvfWith(spark, dir, graphVerts(spark, dir), source,
      centroidMod, nprobe)
  private[graft] def sliceEdgesRefinedWith(spark: SparkSession, dir: String,
      source: String, centroidMod: Int, nprobe: Int,
      rounds: Int = KnnRefineRounds): DataFrame =
    mutualFromLists(
      refinedKnnLists(spark, dir, graphVerts(spark, dir),
        centsFor(spark, dir, source, centroidMod), nprobe, rounds,
        s"slice_${source}_${centroidMod}"))

  def knnGraphRecall(spark: SparkSession, dir: String): DataFrame = {
    val slice = graphVerts(spark, dir)
    val truth = mutualKnnEdges(spark, dir, "recall_truth").select(col("q_id"), col("n_id"))
    // ONE slice list build feeds both arms: the ivf_cells edges are the
    // mutual closure of exactly the lists the refinement seeds from
    // (same verts, same trained cents, same nprobe) — built twice, the
    // assignment chain dominated this harness.
    val pinnedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val sliceLists = cellKnnLists(spark, graphCents(spark, dir), slice,
      KnnGraphNProbe)
    val seedSpill = graft.model.Spill.path(spark,
      "knn_cell_lists_recall_slice", dir)
    sliceLists.write.mode("overwrite").parquet(seedSpill)
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!pinnedBefore.contains(id)) rdd.unpersist(false) }
    val seed = spark.read.parquet(seedSpill)
    val approx = mutualFromLists(seed)
      .withColumn("method", lit("ivf_cells"))
      .unionByName(
        mutualFromLists(
          refinedKnnLists(spark, dir, slice, graphCents(spark, dir),
            KnnGraphNProbe, KnnRefineRounds, "recall_slice", Some(seed)))
          .withColumn("method", lit("ivf_refined")))
    val matched = approx.join(truth, Seq("q_id", "n_id"), "left_semi")
      .groupBy("method").agg(count(lit(1)).as("n_hit"))
    val totals = approx.groupBy("method").agg(count(lit(1)).as("n_approx"))
    val truthN = truth.agg(count(lit(1)).as("n_truth"))
    totals.join(matched, Seq("method"), "left").crossJoin(truthN)
      .select(col("method"), col("n_truth"), col("n_approx"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        round(coalesce(col("n_hit"), lit(0L)) / col("n_truth").cast("double"), 6)
          .as("edge_recall"))
  }

  private lazy val knnGraphRecallSql: String =
    s"""WITH $fixedVecsCtes,
       |$knnGraphCtes,
       |$kmeansIterCtes,
       |${knnIvfCtes("rg_", s"vec_id % $KnnGraphMod = 0")},
       |${knnRefinedCtes("rg_")},
       |rg_ap AS (
       |  SELECT 'ivf_cells' AS method, u, v FROM rg_me
       |  UNION ALL
       |  SELECT 'ivf_refined' AS method, u, v FROM rg_rme
       |),
       |rg_m AS (
       |  SELECT method, CAST(count(*) AS BIGINT) AS n_hit
       |  FROM rg_ap JOIN km_me e ON rg_ap.u = e.u AND rg_ap.v = e.v
       |  GROUP BY 1
       |),
       |rg_t AS (SELECT method, CAST(count(*) AS BIGINT) AS n_approx FROM rg_ap GROUP BY 1),
       |rg_n AS (SELECT CAST(count(*) AS BIGINT) AS n_truth FROM km_me)
       |SELECT t.method, n.n_truth, t.n_approx,
       |       coalesce(m.n_hit, 0) AS n_hit,
       |       round(coalesce(m.n_hit, 0) / CAST(n.n_truth AS DOUBLE), 6) AS edge_recall
       |FROM rg_t t LEFT JOIN rg_m m USING (method) CROSS JOIN rg_n n""".stripMargin

  // ---------------------------------------------------------- cluster_purity

  /** Clustering-quality audit over the coarse quantizer's cells: per IVF
    * cell, the member count, the majority ground-truth `label` (ties to
    * the lowest label) and its share — the purity readout a clustering-
    * based curation stage (SemDeDup cells, topic balancing) is judged by.
    * Composes [[ivfAssignments]]' seed cells — the SAME inverted lists
    * `ann_ivf` probes, `dedup_semantic` scopes, and `sketch_occupancy`
    * watches — joined to the embeddings' label column.
    *
    * Plan shape: after the assignment (broadcast-centroid argmax, one
    * shuffle on c_id), the per-(cell, label) count frame is
    * |cells|·|labels| rows — config-sized, so the majority window and the
    * closing division are free.
    */
  def clusterPurity(spark: SparkSession, dir: String): DataFrame = {
    val labels = Tables.embeddings(spark, dir).select(col("vec_id"), col("label"))
    val perLabel = ivfAssignments(spark, dir)
      .join(labels, "vec_id")
      .groupBy("c_id", "label")
      .agg(count(lit(1)).as("n"))
    perLabel
      .withColumn("n_members",
        sum("n").over(Window.partitionBy("c_id")))
      .withColumn("r", row_number().over(
        Window.partitionBy("c_id").orderBy(col("n").desc, col("label"))))
      .filter(col("r") === 1)
      .select(col("c_id"), col("n_members"), col("label").as("top_label"),
        col("n").as("n_top"),
        round(col("n") / col("n_members").cast("double"), 6).as("purity"))
  }

  // lazy: renders CentroidMod via ivfAssignCtes' default, declared LATER
  // in this object — a strict val would bake in the uninitialized 0
  private lazy val clusterPuritySql: String =
    s"""WITH $fixedVecsCtes,
       |${ivfAssignCtes("cp_")},
       |cp_lab AS (
       |  SELECT a.c_id, e.label, CAST(count(*) AS BIGINT) AS n
       |  FROM cp_assigned a JOIN embeddings e USING (vec_id)
       |  GROUP BY 1, 2
       |),
       |cp_rank AS (
       |  SELECT c_id, label, n,
       |         CAST(sum(n) OVER (PARTITION BY c_id) AS BIGINT) AS n_members,
       |         row_number() OVER (PARTITION BY c_id ORDER BY n DESC, label) AS r
       |  FROM cp_lab
       |)
       |SELECT c_id, n_members, CAST(label AS INT) AS top_label, n AS n_top,
       |       round(n / CAST(n_members AS DOUBLE), 6) AS purity
       |FROM cp_rank WHERE r = 1""".stripMargin

  // ------------------------------------------------------------ k-means step

  /** One exact Lloyd iteration over the embedding space: assign every
    * vector to its nearest centroid (the same deterministic coarse
    * quantizer [[ivf]] probes — this operator IS the training step that
    * would refine it), then emit each cluster's per-dimension mean. The
    * centroid-curation loop behind semantic dedup / dataset clustering at
    * 100 TB is just this step applied repeatedly.
    *
    * Plan shape: centroid assignment is the broadcast crossJoin +
    * sort-free max_by aggregation of [[assignNearest]]; the recompute is
    * ONE groupBy(c_id) whose
    * 64 per-dimension sums ride the same partial aggregate (map-side
    * combine shrinks the shuffle to |centroids| rows of 65 exact bigints —
    * the dedup_minhash single-agg trick), then a `posexplode` to long
    * (c_id, dim, mean) form. Means divide exact fixed-point sums once, so
    * both engines agree bit-for-bit.
    */
  def kmeansStep(spark: SparkSession, dir: String): DataFrame = {
    val vecs = fixedVecs(spark, dir)
    val cents = vecs.filter(col("vec_id") % CentroidMod === 1)
      .select(col("vec_id").as("c_id"), col("v").as("cv"), col("nrm").as("cn"))
    val assigned = assignNearestLocal(vecs, cents)
    val sums = assigned.groupBy("c_id")
      .agg(count(lit(1)).as("n"),
        (1 to Dim).map(i => sum(expr(s"element_at(v, $i)")).as(s"s$i")): _*)
    sums
      .select(col("c_id"), col("n"),
        posexplode(array((1 to Dim).map(i => col(s"s$i")): _*)))
      .select(col("c_id"),
        (col("pos") + 1).cast("long").as("dim"),
        round(col("col") / (col("n") * lit(Scale.toDouble)), 6).as("mean"),
        col("n").as("n_members"))
  }

  private val kmeansStepSql: String =
    s"""WITH $fixedVecsCtes,
       |cents AS (SELECT vec_id AS c_id, v AS cv, nrm AS cn FROM nv WHERE vec_id % $CentroidMod = 1),
       |cdist AS (
       |  SELECT n.vec_id, n.v, c.c_id,
       |         CAST(list_sum([n.v[i] * c.cv[i] for i in generate_series(1, len(n.v))]) AS BIGINT)
       |           / (sqrt(n.nrm) * sqrt(c.cn)) AS ccos
       |  FROM nv n CROSS JOIN cents c
       |),
       |assigned AS (
       |  SELECT vec_id, v, c_id
       |  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, c_id) AS crn
       |        FROM cdist)
       |  WHERE crn = 1
       |),
       |counts AS (SELECT c_id, CAST(count(*) AS BIGINT) AS n FROM assigned GROUP BY 1),
       |dims AS (
       |  SELECT a.c_id, g.i AS dim, CAST(sum(a.v[g.i]) AS BIGINT) AS s
       |  FROM assigned a, generate_series(1, $Dim) AS g(i)
       |  GROUP BY 1, 2
       |)
       |SELECT d.c_id, d.dim, round(d.s / (c.n * ${Scale.toDouble}), 6) AS mean,
       |       c.n AS n_members
       |FROM dims d JOIN counts c USING (c_id)""".stripMargin

  // ---------------------------------------------------------- k-means train

  /** Fixed Lloyd-iteration count: determinism is the contract (the oracle
    * unrolls exactly this many rounds). 4 is the `graft.Tune ivf`-measured
    * best on both fixtures — IVF recall@5 at sf0.1 (16 centroids, the
    * realistic-k fixture): seed 0.350 → trained 0.365; at sf0.01 the
    * quantizer is only 4 centroids (nprobe=2 already scans ~50%), so
    * training is noise-bound there (0.70 vs the seed's 0.72 — within one
    * truth pair on a 50-pair truth set).
    */
  val TrainIters = 4

  /** [[kmeansStep]] iterated to a trained quantizer: TRAIN the IVF
    * centroids instead of seeding them arbitrarily — the centroid-curation
    * loop behind IVF/semantic-dedup at 100 TB (the same iterate-refine
    * shape as the reference's rollup accumulate/flush loop,
    * metricstore.go:85-185, and dedup_cluster's label propagation).
    *
    * Centroids are DRIVER-RESIDENT between iterations by design — k×Dim
    * longs, collected once per round and broadcast back — exactly how
    * Spark MLlib's KMeans iterates: the per-round distributed work is the
    * [[assignNearest]] crossJoin + ONE groupBy whose 64 packed sums ride
    * the partial aggregate (shuffle = |centroids| rows), and nothing is
    * pinned in the block manager between rounds. Refined coordinates are
    * `sum DIV count` in exact fixed-point — truncating integer division,
    * identical in Scala (`Long./`), Spark (`DIV`) and DuckDB (`//`) — so
    * both engines walk bit-identical centroid trajectories.
    */
  /** TRAIN ONCE, REUSE EVERYWHERE: Lloyd trajectories are deterministic
    * per (corpus dir, iteration count) — exact fixed-point arithmetic,
    * fixed seeds — so the k×Dim-long result is memoized for the life of
    * the JVM. Within one suite run, `kmeans_train`, `ann_ivf_trained`,
    * `ann_ivf_balanced` and `ann_recall` all need the same quantizer;
    * without the cache the suite paid 4 trainings where 2 distinct ones
    * exist (r10 verdict item 3). This is also the production shape: a
    * pipeline trains a quantizer once and serves every probe from it —
    * amortized training is the honest cost model, not a bench trick.
    * Entries are a few KB (k ≤ 256 centroids × 64 longs); correctness is
    * untouched because a recomputation is bit-identical by construction.
    */
  private val lloydCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Int, Int), (Seq[(Long, Seq[Long])], Seq[(Long, Long, Seq[Long])])]()
  private val balancedCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Int), Seq[(Long, Seq[Long])]]()

  private[graft] def trainedCents(spark: SparkSession, dir: String,
      iters: Int = TrainIters, sharedVecs: Option[DataFrame] = None,
      seedMod: Int = CentroidMod)
      : (Seq[(Long, Seq[Long])], Seq[(Long, Long, Seq[Long])]) = {
    val cached = lloydCache.get((dir, iters, seedMod))
    if (cached != null) return cached
    // The corpus conversion (parquet scan → fixed-point transform → exact
    // norm) is persisted across the Lloyd rounds, so the seed collect and
    // each round's assign+sum job read the cached frame instead of redoing
    // the scan — MLlib's KMeans caches its normalized input for the same
    // reason. Freed (blocking) before return unless the caller owns a
    // longer-lived cache ([[recall]]'s shared corpus).
    val owned = sharedVecs.isEmpty
    val vecs = sharedVecs.getOrElse(fixedVecs(spark, dir).persist())
    try {
      var cents: Seq[(Long, Seq[Long])] = seedCentsEvery(vecs, seedMod)
        .select(col("c_id"), col("cv")).collect().toSeq
        .map(r => (r.getLong(0), r.getSeq[Long](1).toSeq)).sortBy(_._1)
      var stats = Seq.empty[(Long, Long, Seq[Long])] // (c_id, n, raw sums)
      (1 to iters).foreach { _ =>
        val sums = assignNearestLocal(vecs, mkCentsDf(spark, cents))
          .groupBy("c_id")
          .agg(count(lit(1)).as("n"),
            (1 to Dim).map(i => sum(expr(s"element_at(v, $i)")).as(s"s$i")): _*)
          .collect()
        cents = sums.map { r =>
          val n = r.getLong(1)
          (r.getLong(0), (0 until Dim).map(i => r.getLong(i + 2) / n): Seq[Long])
        }.toSeq.sortBy(_._1)
        stats = sums.map { r =>
          (r.getLong(0), r.getLong(1), (0 until Dim).map(i => r.getLong(i + 2)): Seq[Long])
        }.toSeq.sortBy(_._1)
      }
      val result = (cents, stats)
      lloydCache.put((dir, iters, seedMod), result)
      result
    } finally if (owned) vecs.unpersist(blocking = true)
  }

  /** Driver-held centroids back to a `(c_id, cv, cn)` frame. */
  private[graft] def mkCentsDf(spark: SparkSession, cents: Seq[(Long, Seq[Long])]): DataFrame = {
    graft.functions.GraftExtensions.register(spark)
    import spark.implicits._
    cents.toDF("c_id", "cv").withColumn("cn", expr("vec_dot(cv, cv)"))
  }

  /** `kmeans_train` operator: the trained centroids in the same long
    * `(c_id, dim, mean, n_members)` form as [[kmeansStep]]. The reported
    * mean divides the final round's RAW sums (`round(s/(n·Scale), 6)`,
    * kmeans_step's policy): the truncated fixed-point coordinate the loop
    * iterates on has EXACTLY 7 decimal digits, so rounding it to 6 lands
    * on .5 ties where Spark's decimal HALF_UP and DuckDB's binary
    * rounding disagree — the full-precision quotient never ties.
    */
  def kmeansTrain(spark: SparkSession, dir: String): DataFrame = {
    val (_, stats) = trainedCents(spark, dir)
    val rows = stats.flatMap { case (c, n, sums) =>
      sums.zipWithIndex.map { case (s, i) => (c, (i + 1).toLong, s, n) }
    }
    import spark.implicits._
    rows.toDF("c_id", "dim", "s", "n_members")
      .select(col("c_id"), col("dim"),
        round(col("s") / (col("n_members") * lit(Scale.toDouble)), 6).as("mean"),
        col("n_members"))
  }

  /** The Lloyd loop unrolled as CTE rounds — `cents0` (seeds) through
    * `cents{TrainIters}`, each round = assign (argmax ccos, c_id asc
    * tiebreak) → per-cluster counts + per-dim sums → truncated-mean
    * centroid list.
    */
  private val kmeansIterCtes: String = {
    val iters = (1 to TrainIters).map { i =>
      s"""cd$i AS (
         |  SELECT n.vec_id, n.v, c.c_id,
         |         CAST(list_sum([n.v[j] * c.cv[j] for j in generate_series(1, len(n.v))]) AS BIGINT)
         |           / (sqrt(n.nrm) * sqrt(c.cn)) AS ccos
         |  FROM nv n CROSS JOIN cents${i - 1} c
         |),
         |asg$i AS MATERIALIZED (
         |  SELECT vec_id, v, c_id
         |  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, c_id) AS crn
         |        FROM cd$i)
         |  WHERE crn = 1
         |),
         |counts$i AS (SELECT c_id, CAST(count(*) AS BIGINT) AS n FROM asg$i GROUP BY 1),
         |dims$i AS (
         |  SELECT a.c_id, g.j AS dim, CAST(sum(a.v[g.j]) AS BIGINT) AS s
         |  FROM asg$i a, generate_series(1, $Dim) AS g(j)
         |  GROUP BY 1, 2
         |),
         |cents$i AS MATERIALIZED (
         |  SELECT c_id, cv, CAST(list_sum([x * x for x in cv]) AS BIGINT) AS cn
         |  FROM (SELECT d.c_id, list(d.s // c.n ORDER BY d.dim) AS cv
         |        FROM dims$i d JOIN counts$i c USING (c_id) GROUP BY d.c_id)
         |)""".stripMargin
    }
    (s"cents0 AS MATERIALIZED (SELECT vec_id AS c_id, v AS cv, nrm AS cn FROM nv WHERE vec_id % $CentroidMod = 1)"
      +: iters).mkString(",\n")
  }

  private val kmeansTrainSql: String =
    s"""WITH $fixedVecsCtes,
       |$kmeansIterCtes
       |SELECT d.c_id, d.dim, round(d.s / (c.n * ${Scale.toDouble}), 6) AS mean,
       |       c.n AS n_members
       |FROM dims$TrainIters d JOIN counts$TrainIters c USING (c_id)""".stripMargin

  /** `ann_ivf_trained`: [[ivf]] with the k-means-trained quantizer — the
    * proof that [[kmeansTrain]] closes the loop ([[recall]] reports its
    * recall next to the seed-quantizer IVF's).
    */
  def ivfTrained(spark: SparkSession, dir: String): DataFrame = {
    val vecs = fixedVecs(spark, dir)
    ivfFrom(vecs, mkCentsDf(spark, trainedCents(spark, dir)._1))
  }

  private[graft] val ivfTrainedSql: String =
    ivfSqlFrom(s"$kmeansIterCtes,\ncents AS (SELECT c_id, cv, cn FROM cents$TrainIters)")

  /** `ann_ivf_stored`: [[ivfTrained]] served from a PERSISTED inverted-
    * list index — the build-once/probe-many production shape. The trained
    * assignment is written to shared storage PARTITIONED BY `c_id` (one
    * directory per inverted list — exactly how a physical ANN store lays
    * lists out), and the probe read filters on the routed cell ids, so
    * the scan's `PartitionFilters` prune to the probed lists' files: the
    * store read touches nprobe/|cells| of the INDEX BYTES, not just of
    * the rows (Round14Spec asserts the pruned plan). The routed-cell set
    * is ≤ |cells| ids (config-sized collect); results are bit-identical
    * to [[ivfTrained]] (same quantizer, same probe algebra, one parquet
    * roundtrip), so the oracle is [[ivfTrainedSql] ] verbatim.
    */
  def ivfStored(spark: SparkSession, dir: String): DataFrame = {
    val vecs = fixedVecs(spark, dir)
    val cents = mkCentsDf(spark, trainedCents(spark, dir)._1)
    val idx = graft.model.Spill.path(spark, "ivf_lists_trained", dir)
    assignNearestLocal(vecs, cents).select("vec_id", "v", "nrm", "c_id")
      .write.mode("overwrite").partitionBy("c_id").parquet(idx)
    val probeLists = ivfProbeLists(vecs, cents, NProbe)
    val routed = probeLists.select("c_id").distinct()
      .collect().map(_.getLong(0)).sorted
    val lists = spark.read.parquet(idx)
      .filter(col("c_id").isin(routed: _*))
      .select(col("vec_id"), col("v"), col("nrm"), col("c_id").cast("long").as("c_id"))
    topKFromCands(ivfCandsFromAssigned(lists, probeLists))
  }

  /** `ann_ivf_stored_live`: the stored index under LIVE maintenance — the
    * production loop `ann_ivf_stored`'s write-once build skips. New
    * vectors arrive continuously (the `stream_ann` ingest shape), so the
    * index accretes as append-only flush slices in the c_id-partitioned
    * store ([[graft.sources.VecIndexStore]] — the rollup store's
    * lease/manifest/additive-swap machinery at `c_id=*` depth), and a
    * selective compaction folds multi-slice cells behind the ingest
    * frontier while probes keep serving. Here the corpus lands as three
    * hash-disjoint slices (vec_id % 3 — three flush cycles), compaction
    * folds every touched cell to one file, and the probe is the SAME
    * partition-pruned routed read as [[ivfStored]] — bit-identical to
    * [[ivfTrained]] at every point of the lifecycle (slices are
    * row-disjoint and the probe algebra is append-order-immune), so the
    * oracle is [[ivfTrained]]'s SQL verbatim and Round15Spec drives the
    * flush-mid-probe and compact-mid-probe races this single-threaded
    * operator can't.
    */
  def ivfStoredLive(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.VecIndexStore
    val vecs = fixedVecs(spark, dir)
    val cents = mkCentsDf(spark, trainedCents(spark, dir)._1)
    val idx = graft.model.Spill.path(spark, "ivf_lists_live", dir)
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(idx), true) // fresh lifecycle per run
    val assigned = assignNearestLocal(vecs, cents).select("vec_id", "v", "nrm", "c_id")
    (0 until 3).foreach { i =>
      VecIndexStore.append(assigned.filter(pmod(col("vec_id"), lit(3)) === i), idx)
    }
    VecIndexStore.compact(spark, idx)
    val probeLists = ivfProbeLists(vecs, cents, NProbe)
    val routed = probeLists.select("c_id").distinct()
      .collect().map(_.getLong(0)).sorted
    val lists = VecIndexStore.read(spark, idx)
      .filter(col("c_id").isin(routed: _*))
    topKFromCands(ivfCandsFromAssigned(lists, probeLists))
  }

  // ----------------------------------------------- balanced IVF quantizer

  /** Split-hot / merge-cold Lloyd variant: plain k-means minimizes
    * distortion, not LIST BALANCE, and an IVF hot cell is scan-fraction
    * skew (every probe that lands there scans n_hot, not n/k — the
    * straggler partition of the ANN world), while an empty/cold cell is
    * wasted quantizer capacity. ONE rebalance fires on the round-1 (seed)
    * assignment — if the hottest-vs-coldest spread exceeds a quarter of
    * the mean list length, the coldest centroid is dropped (its members
    * scatter to neighbors) and the hottest cell is split by cloning its
    * refined centroid nudged +1 in every fixed-point coordinate (FAISS's
    * split step; the clone pair separates along the cell's own density in
    * the next round) — then the remaining rounds are pure Lloyd polish.
    * Every variant of MORE aggressive swapping measured WORSE on the
    * sf0.1 fixture (graft.Tune ivf, r9): per-round swaps thrash Lloyd's
    * convergence (max_occ 148-149 vs 143), final-round swaps ship an
    * unrefined split, and boundary seeding (farthest member as the new
    * centroid) steals from neighboring cells. The shipped rule moves the
    * seed quantizer's max list from 152 to 143 (mean 125) at equal
    * nprobe=2 recall (0.350) and better nprobe=3 recall (0.470 vs
    * 0.435). All in exact integer/IEEE arithmetic, so both engines walk
    * identical centroid trajectories; new centroids get round-scoped
    * labels `-(round·10^6 + vec_id-of-farthest-member)` so a label can
    * never collide.
    */
  private[graft] def trainedCentsBalanced(spark: SparkSession, dir: String,
      iters: Int = TrainIters, sharedVecs: Option[DataFrame] = None)
      : Seq[(Long, Seq[Long])] = {
    val cached = balancedCache.get((dir, iters))
    if (cached != null) return cached
    val owned = sharedVecs.isEmpty
    val vecs = sharedVecs.getOrElse(fixedVecs(spark, dir).persist())
    try {
      var cents: Seq[(Long, Seq[Long])] = seedCents(vecs)
        .select(col("c_id"), col("cv")).collect().toSeq
        .map(r => (r.getLong(0), r.getSeq[Long](1).toSeq)).sortBy(_._1)
      (1 to iters).foreach { i =>
        // ONE aggregation per round: counts + 64 dim-sums + farthest
        // member, all riding the same partial aggregate (k rows collected)
        val aggCols = (count(lit(1)).as("n") +:
          (1 to Dim).map(j => sum(expr(s"element_at(v, $j)")).as(s"s$j"))) :+
          min_by(struct(col("vec_id"), col("v")),
            struct(col("ccos"), col("vec_id"))).as("far")
        val sums = assignNearestLocal(vecs, mkCentsDf(spark, cents))
          .groupBy("c_id")
          .agg(aggCols.head, aggCols.tail: _*)
          .collect()
        var refined = sums.map { r =>
          val n = r.getLong(1)
          (r.getLong(0), (0 until Dim).map(j => r.getLong(j + 2) / n): Seq[Long])
        }.toSeq.sortBy(_._1)
        val counts = sums.map(r => (r.getLong(0), r.getLong(1))).toSeq
        val totalN = counts.map(_._2).sum
        val k = counts.size
        val hot = counts.minBy { case (c, n) => (-n, c) }
        val cold = counts.minBy { case (c, n) => (n, c) }
        // k >= 8: merging the coldest of k cells displaces ~n/k of the
        // corpus; below 8 cells that is >12% and the swap measurably costs
        // recall (sf0.01's 4-cell quantizer: 0.60 vs the seed's 0.72) —
        // a tiny quantizer has no capacity to spare, so leave it to Lloyd
        if (i == 1 && k >= 8 && hot._2 - cold._2 > math.max(1L, totalN / (4L * k))) {
          // clone-split: the new centroid is the hot cell's REFINED centroid
          // nudged +1 in every fixed-point coordinate (FAISS's split step) —
          // the next Lloyd round separates the clone pair along the cell's
          // own density, which measured strictly better than seeding at the
          // farthest member (a boundary point steals from neighbors). The
          // farthest member's vec_id only supplies the collision-free label.
          val farRow = sums.find(_.getLong(0) == hot._1).get
            .getStruct(Dim + 2)
          val fv = farRow.getLong(0)
          val hotCv = refined.find(_._1 == hot._1).get._2
          refined = (refined.filterNot(_._1 == cold._1) :+
            ((-(i.toLong * 1000000L + fv), hotCv.map(_ + 1L)))).sortBy(_._1)
        }
        cents = refined
      }
      balancedCache.put((dir, iters), cents)
      cents
    } finally if (owned) vecs.unpersist(blocking = true)
  }

  /** `ann_ivf_balanced`: [[ivf]] with the split-hot/merge-cold balanced
    * quantizer — same probe shape as [[ivfTrained]], but the inverted
    * lists it scans are the BALANCED ones (`graft.Tune ivf` measures the
    * max/mean list occupancy next to recall for all three quantizers).
    */
  def ivfBalanced(spark: SparkSession, dir: String): DataFrame = {
    val vecs = fixedVecs(spark, dir)
    ivfFrom(vecs, mkCentsDf(spark, trainedCentsBalanced(spark, dir)))
  }

  /** The balanced Lloyd loop unrolled as CTE rounds — [[kmeansIterCtes]]'s
    * refine plus the per-round hot/cold swap, every scalar (spread
    * threshold, hot/cold pick, farthest member) computed relationally
    * with the SAME integer-division and tiebreak rules the Scala loop
    * applies.
    */
  private val balancedIterCtes: String = {
    // ONLY round 1 rebalances (the `i == 1` guard the Scala loop applies);
    // rounds 2..TrainIters are pure Lloyd polish
    val iters = (1 to TrainIters).map { i =>
      if (i > 1)
        s"""bcd$i AS (
           |  SELECT n.vec_id, n.v, c.c_id,
           |         CAST(list_sum([n.v[j] * c.cv[j] for j in generate_series(1, len(n.v))]) AS BIGINT)
           |           / (sqrt(n.nrm) * sqrt(c.cn)) AS ccos
           |  FROM nv n CROSS JOIN bcents${i - 1} c
           |),
           |basg$i AS MATERIALIZED (
           |  SELECT vec_id, v, c_id, ccos
           |  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, c_id) AS crn
           |        FROM bcd$i)
           |  WHERE crn = 1
           |),
           |bcnt$i AS MATERIALIZED (SELECT c_id, CAST(count(*) AS BIGINT) AS n FROM basg$i GROUP BY 1),
           |bdim$i AS (
           |  SELECT a.c_id, g.j AS dim, CAST(sum(a.v[g.j]) AS BIGINT) AS s
           |  FROM basg$i a, generate_series(1, $Dim) AS g(j)
           |  GROUP BY 1, 2
           |),
           |bcents$i AS MATERIALIZED (
           |  SELECT c_id, cv, CAST(list_sum([x * x for x in cv]) AS BIGINT) AS cn
           |  FROM (SELECT d.c_id, list(d.s // c.n ORDER BY d.dim) AS cv
           |        FROM bdim$i d JOIN bcnt$i c USING (c_id) GROUP BY d.c_id)
           |)""".stripMargin
      else
      s"""bcd$i AS (
         |  SELECT n.vec_id, n.v, c.c_id,
         |         CAST(list_sum([n.v[j] * c.cv[j] for j in generate_series(1, len(n.v))]) AS BIGINT)
         |           / (sqrt(n.nrm) * sqrt(c.cn)) AS ccos
         |  FROM nv n CROSS JOIN bcents${i - 1} c
         |),
         |basg$i AS MATERIALIZED (
         |  SELECT vec_id, v, c_id, ccos
         |  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, c_id) AS crn
         |        FROM bcd$i)
         |  WHERE crn = 1
         |),
         |bcnt$i AS MATERIALIZED (SELECT c_id, CAST(count(*) AS BIGINT) AS n FROM basg$i GROUP BY 1),
         |bdim$i AS (
         |  SELECT a.c_id, g.j AS dim, CAST(sum(a.v[g.j]) AS BIGINT) AS s
         |  FROM basg$i a, generate_series(1, $Dim) AS g(j)
         |  GROUP BY 1, 2
         |),
         |bref$i AS MATERIALIZED (
         |  SELECT c_id, cv, CAST(list_sum([x * x for x in cv]) AS BIGINT) AS cn
         |  FROM (SELECT d.c_id, list(d.s // c.n ORDER BY d.dim) AS cv
         |        FROM bdim$i d JOIN bcnt$i c USING (c_id) GROUP BY d.c_id)
         |),
         |bhot$i AS MATERIALIZED (SELECT c_id, n FROM bcnt$i ORDER BY n DESC, c_id ASC LIMIT 1),
         |bcold$i AS (SELECT c_id, n FROM bcnt$i ORDER BY n ASC, c_id ASC LIMIT 1),
         |bsw$i AS MATERIALIZED (
         |  SELECT (SELECT CAST(count(*) AS BIGINT) FROM bcnt$i) >= 8
         |         AND h.n - c.n > greatest(
         |           1, (SELECT CAST(count(*) AS BIGINT) FROM nv)
         |              // (4 * (SELECT CAST(count(*) AS BIGINT) FROM bcnt$i))) AS sw,
         |         c.c_id AS cold_c
         |  FROM bhot$i h, bcold$i c
         |),
         |bfar$i AS (
         |  SELECT CAST(-($i * 1000000 + a.vec_id) AS BIGINT) AS c_id,
         |         [x + 1 for x in r.cv] AS cv
         |  FROM basg$i a JOIN bhot$i h USING (c_id) JOIN bref$i r USING (c_id)
         |  ORDER BY a.ccos ASC, a.vec_id ASC LIMIT 1
         |),
         |bcents$i AS MATERIALIZED (
         |  SELECT c_id, cv, cn FROM bref$i
         |  WHERE NOT ((SELECT sw FROM bsw$i) AND c_id = (SELECT cold_c FROM bsw$i))
         |  UNION ALL
         |  SELECT c_id, cv, CAST(list_sum([x * x for x in cv]) AS BIGINT) AS cn
         |  FROM bfar$i WHERE (SELECT sw FROM bsw$i)
         |)""".stripMargin
    }
    (s"bcents0 AS MATERIALIZED (SELECT vec_id AS c_id, v AS cv, nrm AS cn FROM nv WHERE vec_id % $CentroidMod = 1)"
      +: iters).mkString(",\n")
  }

  private val ivfBalancedSql: String =
    ivfSqlFrom(s"$balancedIterCtes,\ncents AS (SELECT c_id, cv, cn FROM bcents$TrainIters)")

  // ---------------------------------------------- product quantization (PQ)

  /** PQ geometry: the 64-dim embedding splits into [[PqSubs]] contiguous
    * sub-vectors of [[PqSubDim]] dims; each subspace gets its own
    * [[PqCodebookK]]-entry codebook, so a vector compresses to 8 small
    * codes (8 bytes vs 256 — the FAISS-style memory path that makes ANN
    * over 100 TB of embeddings fit a cluster's RAM). Codebook seeds are a
    * HASH-RANKED sample of the corpus (the K vectors with the smallest
    * portable md5-derived hash of vec_id): deterministic, engine-portable,
    * and — unlike the IVF family's every-Nth spacing — FIXED-SIZE in the
    * corpus, which is what a real PQ codebook is (k=256 per subspace at
    * any scale; training sees a sample, never the corpus).
    */
  val PqSubs = 8
  val PqSubDim: Int = Dim / PqSubs
  /** r15: 32 → 64 — the r15 `graft.Tune pq` re-sweep (trained codebooks,
    * sf0.1): k 32→64 at UNCHANGED shortlist lifts recall@5
    * 0.780 → 0.895 at the SAME 5% re-rank fetch fraction — codebook
    * size is the cheaper dial (encode work, never re-rank fetches), and
    * the fixture's 500-vector sample pool holds k=64 at every SF. The
    * 0.95 point (k=64 × shortlist 200) doubles the re-rank fetches —
    * left to the dial surface.
    */
  val PqCodebookK = 64

  private[graft] val pqSlices =
    s"transform(sequence(0, ${PqSubs - 1}), m -> slice(v, m * $PqSubDim + 1, $PqSubDim))"

  /** Per-subspace codebook `(sub, code, cv, cn)`: the hash-ranked seed
    * sample's sub-vectors, `code` = rank in the sample. The global sort is
    * a `TakeOrderedAndProject` top-K (distributed partial top-k per
    * partition, K rows to the driver side of the plan), and the
    * rank window then runs over the K-row frame only — the corpus never
    * single-partitions.
    */
  private[graft] def pqCodebook(vecs: DataFrame, k: Int = PqCodebookK): DataFrame = {
    import graft.model.Portable.hash60
    val seeds = vecs
      .withColumn("h", hash60(col("vec_id").cast("string")))
      .orderBy(col("h"), col("vec_id")).limit(k)
      .withColumn("code",
        (row_number().over(Window.orderBy(col("h"), col("vec_id"))) - 1).cast("int"))
    seeds
      .select(col("code"), posexplode(expr(pqSlices)).as(Seq("sub", "cv")))
      .withColumn("cn", expr(dotExpr("cv", "cv")))
      .select(col("sub"), col("code"), col("cv"), col("cn"))
  }

  /** Corpus (or probe) rows exploded to `(vec_id, sub, x, xn)` sub-vector
    * form — one map-only projection, [[PqSubs]] rows per vector.
    */
  private def pqSubVecs(vecs: DataFrame): DataFrame =
    vecs
      .select(col("vec_id"), posexplode(expr(pqSlices)).as(Seq("sub", "x")))
      .withColumn("xn", expr(dotExpr("x", "x")))

  /** Codes for every (vector, subspace): nearest codebook entry by exact
    * integer L2 (`|x|^2 - 2 x.c + |c|^2`), ties to the lower code. Same
    * sort-free shape as [[assignNearest]]: after the broadcast join each
    * sub-vector's K scored rows are co-resident, so the `min_by` partial
    * aggregation collapses them map-side — the exchange carries n x M code
    * rows (the PQ-compressed corpus itself), never n x M x K.
    */
  /** The whole M×K codebook collapsed to ONE map row `sub →
    * array<struct<code, cv, cn>>` and attached by single-row broadcast,
    * each sub-vector picking its code with the native `vec_best_code`
    * argmin — the [[withTopCells]] shape on the PQ domain (r16, guide
    * §2.4): the r15 `min_by` form exchanged n×M code rows (the whole
    * compressed corpus) to group by (vec_id, sub); here encoding is
    * map-only and nothing shuffles. Metric and tiebreak are the same
    * exact integers, so codes/qerr are bit-equal (Round16Spec).
    */
  private def withBestCode(subVecs: DataFrame, cb: DataFrame): DataFrame = {
    graft.functions.GraftExtensions.register(subVecs.sparkSession)
    subVecs.crossJoin(broadcast(cb
        .groupBy("sub")
        .agg(sort_array(collect_list(struct(col("code"), col("cv"), col("cn"))))
          .as("es"))
        .agg(map_from_entries(collect_list(struct(col("sub"), col("es"))))
          .as("_cb"))))
      .withColumn("_best", expr("vec_best_code(x, xn, element_at(_cb, sub))"))
      .drop("_cb")
  }

  private[graft] def pqCodesFrom(vecs: DataFrame, cb: DataFrame): DataFrame =
    withBestCode(pqSubVecs(vecs), cb)
      .select(col("vec_id"), col("sub"),
        expr("_best.code").as("code"), expr("_best.d2").as("qerr"))

  /** Lloyd rounds for the TRAINED per-subspace codebooks (r14): FAISS
    * trains PQ codebooks with k-means in each subspace; the hash-ranked
    * sample is only the SEED. The house TrainIters knee, re-measured on
    * the PQ domain by `graft.Tune pq` seed-vs-trained.
    */
  val PqTrainIters = 4

  /** Driver-held PQ codebook back to a `(sub, code, cv, cn)` frame. */
  private def mkPqCbDf(spark: SparkSession,
      cb: Seq[(Int, Int, Seq[Long])]): DataFrame = {
    import spark.implicits._
    cb.toDF("sub", "code", "cv")
      .withColumn("cn", expr(dotExpr("cv", "cv")))
  }

  /** TRAIN ONCE, REUSE EVERYWHERE (the lloydCache contract): per-subspace
    * k-means trajectories are deterministic per (dir, k, iters).
    */
  private val pqLloydCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Int, Int), Seq[(Int, Int, Seq[Long])]]()

  /** Per-subspace Lloyd-trained codebooks: seeds = [[pqCodebook]]'s
    * hash-ranked sample, then `iters` rounds of assign (exact integer L2
    * argmin, ties to the lower code) → per-(sub, code) truncated-integer
    * mean. A (sub, code) cell that catches no members KEEPS its previous
    * centroid (codes are ranks — the codebook must stay k entries per
    * subspace; FAISS does the same). Codebooks are driver-resident
    * between rounds (M×k×subdim longs = 2 KB); the per-round distributed
    * work is ONE broadcast argmin + ONE groupBy whose subdim packed sums
    * ride the partial aggregate. DuckDB mirror: the `{p}tcb*` rounds in
    * [[pqCodesCtes]].
    */
  private[graft] def trainedPqCodebook(spark: SparkSession, dir: String,
      vecs: DataFrame, k: Int = PqCodebookK,
      iters: Int = PqTrainIters): DataFrame = {
    val cached = pqLloydCache.get((dir, k, iters))
    if (cached != null) return mkPqCbDf(spark, cached)
    var cb: Seq[(Int, Int, Seq[Long])] = pqCodebook(vecs, k)
      .select(col("sub"), col("code"), col("cv")).collect().toSeq
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Long](2).toSeq))
      .sortBy(t => (t._1, t._2))
    (1 to iters).foreach { _ =>
      val assigned = withBestCode(pqSubVecs(vecs), mkPqCbDf(spark, cb))
        .select(col("sub"), expr("_best.code").as("code"), col("x"))
      val sums = assigned
        .groupBy("sub", "code")
        .agg(count(lit(1)).as("n"),
          (1 to PqSubDim).map(j => sum(expr(s"element_at(x, $j)")).as(s"s$j")): _*)
        .collect()
        .map { r =>
          ((r.getInt(0), r.getInt(1)),
            (r.getLong(2), (0 until PqSubDim).map(j => r.getLong(j + 3))))
        }.toMap
      cb = cb.map { case (sub, code, cv) =>
        sums.get((sub, code)) match {
          case Some((n, ss)) => (sub, code, ss.map(_ / n): Seq[Long])
          case None => (sub, code, cv) // empty cell keeps its centroid
        }
      }
    }
    pqLloydCache.put((dir, k, iters), cb)
    mkPqCbDf(spark, cb)
  }

  /** `pq_encode`: the PQ compression stage as an audited operator — one row
    * per (vector, subspace) with the assigned code and `qerr`, the exact
    * integer quantization error that cell contributes (the watched number:
    * rising qerr at a new corpus scale means the codebook needs retraining,
    * exactly as `sketch_occupancy` watches bucket skew). Since r14 the
    * codebook is the per-subspace Lloyd-TRAINED one.
    */
  def pqEncode(spark: SparkSession, dir: String): DataFrame = {
    val vecs = fixedVecs(spark, dir)
    pqCodesFrom(vecs, trainedPqCodebook(spark, dir, vecs))
  }

  private def pqCbCtes(p: String): String =
    s"""${p}h AS (SELECT vec_id, v, ${graft.model.Portable.hex2bigSql("md5(CAST(vec_id AS VARCHAR))")} AS h FROM nv),
       |${p}seedrows AS (SELECT vec_id, v, h FROM ${p}h ORDER BY h, vec_id LIMIT $PqCodebookK),
       |${p}seed AS (
       |  SELECT v, CAST(row_number() OVER (ORDER BY h, vec_id) - 1 AS INT) AS code
       |  FROM ${p}seedrows
       |),
       |${p}grid AS (SELECT CAST(unnest(generate_series(0, ${PqSubs - 1})) AS INT) AS sub),
       |${p}cbraw AS (
       |  SELECT g.sub, s.code,
       |         s.v[g.sub * $PqSubDim + 1 : g.sub * $PqSubDim + $PqSubDim] AS cv
       |  FROM ${p}seed s CROSS JOIN ${p}grid g
       |),
       |${p}cb_seed AS (
       |  SELECT sub, code, cv, CAST(list_sum([c * c for c in cv]) AS BIGINT) AS cn
       |  FROM ${p}cbraw
       |)""".stripMargin

  /** Per-subspace Lloyd rounds `{p}tcb0 … {p}tcb{PqTrainIters}` + the
    * final `{p}cb` every downstream consumer (codes, LUTs) reads — the
    * DuckDB mirror of [[trainedPqCodebook]] (expects `{p}cb_seed` and
    * `{p}sxn` in scope): each round = argmin assign (d2 asc, code asc) →
    * per-(sub, code) counts + per-dim RAW sums → `s // n` truncated-mean
    * centroids, empty cells KEEPING the previous round's entry.
    */
  private def pqTrainCtes(p: String): String = {
    val iters = (1 to PqTrainIters).map { i =>
      s"""${p}td$i AS (
         |  SELECT s.vec_id, s.sub, s.x, c.code,
         |         s.xn - 2 * CAST(list_sum([s.x[n] * c.cv[n] for n in generate_series(1, len(s.x))]) AS BIGINT) + c.cn AS d2
         |  FROM ${p}sxn s JOIN ${p}tcb${i - 1} c USING (sub)
         |),
         |${p}ta$i AS MATERIALIZED (
         |  SELECT sub, code, x FROM (
         |    SELECT sub, code, x,
         |           row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2, code) AS trn
         |    FROM ${p}td$i
         |  ) WHERE trn = 1
         |),
         |${p}tn$i AS (SELECT sub, code, CAST(count(*) AS BIGINT) AS n FROM ${p}ta$i GROUP BY 1, 2),
         |${p}ts$i AS (
         |  SELECT a.sub, a.code, g.j AS dim, CAST(sum(a.x[g.j]) AS BIGINT) AS s
         |  FROM ${p}ta$i a, generate_series(1, $PqSubDim) AS g(j)
         |  GROUP BY 1, 2, 3
         |),
         |${p}tref$i AS (
         |  SELECT s.sub, s.code, list(s.s // n.n ORDER BY s.dim) AS cv
         |  FROM ${p}ts$i s JOIN ${p}tn$i n USING (sub, code)
         |  GROUP BY s.sub, s.code
         |),
         |${p}tcb$i AS MATERIALIZED (
         |  SELECT o.sub, o.code, coalesce(r.cv, o.cv) AS cv,
         |         CAST(list_sum([x * x for x in coalesce(r.cv, o.cv)]) AS BIGINT) AS cn
         |  FROM ${p}tcb${i - 1} o LEFT JOIN ${p}tref$i r USING (sub, code)
         |)""".stripMargin
    }
    (s"${p}tcb0 AS MATERIALIZED (SELECT sub, code, cv, cn FROM ${p}cb_seed)" +: iters)
      .mkString(",\n")
  }

  private[graft] def pqCodesCtes(p: String): String =
    s"""${pqCbCtes(p)},
       |${p}sx AS (
       |  SELECT n.vec_id, g.sub,
       |         n.v[g.sub * $PqSubDim + 1 : g.sub * $PqSubDim + $PqSubDim] AS x
       |  FROM nv n CROSS JOIN ${p}grid g
       |),
       |${p}sxn AS MATERIALIZED (
       |  SELECT vec_id, sub, x, CAST(list_sum([e * e for e in x]) AS BIGINT) AS xn
       |  FROM ${p}sx
       |),
       |${pqTrainCtes(p)},
       |${p}cb AS MATERIALIZED (SELECT sub, code, cv, cn FROM ${p}tcb$PqTrainIters),
       |${p}dist AS (
       |  SELECT s.vec_id, s.sub, c.code,
       |         s.xn - 2 * CAST(list_sum([s.x[i] * c.cv[i] for i in generate_series(1, len(s.x))]) AS BIGINT) + c.cn AS d2
       |  FROM ${p}sxn s JOIN ${p}cb c USING (sub)
       |),
       |${p}coded AS (
       |  SELECT vec_id, sub, code, d2,
       |         row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2, code) AS rn
       |  FROM ${p}dist
       |)""".stripMargin

  private val pqEncodeSql: String =
    s"""WITH $fixedVecsCtes,
       |${pqCodesCtes("pq_")}
       |SELECT vec_id, sub, code, d2 AS qerr FROM pq_coded WHERE rn = 1""".stripMargin

  /** ADC shortlist width: the compressed scan keeps this many candidates
    * per probe for the exact re-rank. The dial trades re-rank fetches for
    * recall; (PqCodebookK=32, PqShortlist=100) is the `graft.Tune pq`-swept
    * knee — recall@5 = 0.70 at 5.0% re-ranked at sf0.1, 0.84 at sf0.01
    * (docs/TUNING.md). Codebook size is the cheaper dial (it costs encode
    * work, not re-rank fetches): mean qerr drops 1.22e13 -> 7.9e12 from
    * k=8 -> 32, and recall at equal shortlist rises with it; at real scale
    * the standing FAISS setting is k=256 per subspace with Lloyd-trained
    * codebooks — here the hash-ranked sample is capped by the fixture.
    */
  val PqShortlist = 100

  /** `ann_pq`: asymmetric-distance (ADC) search over the PQ codes with an
    * exact re-rank — the FAISS-style pipeline. The probe stays EXACT; per
    * probe a (subspace, code) -> partial-dot lookup table is precomputed
    * against the codebook (|probes| x M x K rows — tiny, the broadcast
    * side), a compressed vector's approximate dot is the sum of its M table
    * hits (pure bigint, bit-stable), the top-[[PqShortlist]] by ADC score
    * form the shortlist, and only the shortlist is re-scored with true
    * vectors. At 100 TB the division of labor is the point: the full-corpus
    * scan touches ONLY the 8-byte code rows (never the 256-byte vectors),
    * the LUT join is map-side, the per-(probe, vector) partial sums combine
    * before the exchange (n x |probes| score rows), and the exact re-rank
    * fetches |probes| x shortlist vectors — a point-lookup against the
    * vector store (here a broadcast semi-join on vec_id), not a scan.
    */
  def annPq(spark: SparkSession, dir: String): DataFrame =
    annPqWith(spark, dir, PqShortlist)

  /** [[annPq]] at an explicit ADC shortlist width — the recall dial
    * `graft.Tune pq` sweeps.
    */
  def annPqWith(spark: SparkSession, dir: String, shortlist: Int,
      codebookK: Int = PqCodebookK, source: String = "trained"): DataFrame = {
    val vecs = fixedVecs(spark, dir)
    val cb =
      if (source == "seed") pqCodebook(vecs, codebookK)
      else trainedPqCodebook(spark, dir, vecs, codebookK)
    val codes = pqCodesFrom(vecs, cb).select("vec_id", "sub", "code")
    val probeVecs = vecs.filter(col("vec_id") % ProbeMod === 0)
    val probes = probeVecs
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
    val probeSubs = pqSubVecs(probeVecs)
      .select(col("vec_id").as("q_id"), col("sub"), col("x").as("qx"))
    val lut = probeSubs.join(cb, Seq("sub"))
      .select(col("q_id"), col("sub"), col("code"),
        expr(dotExpr("qx", "cv")).as("pdot"))
    val scored = codes.join(broadcast(lut), Seq("sub", "code"))
      .filter(col("vec_id") =!= col("q_id"))
      .groupBy("q_id", "vec_id").agg(sum(col("pdot")).as("adot"))
    val short = scored
      .withColumn("arn", row_number().over(
        Window.partitionBy("q_id").orderBy(col("adot").desc, col("vec_id"))))
      .filter(col("arn") <= shortlist)
      .select("q_id", "vec_id")
    vecs.join(broadcast(short), Seq("vec_id"))
      .join(broadcast(probes), Seq("q_id"))
      .withColumn("cos",
        expr(dotExpr("v", "qv")) / (sqrt(col("nrm")) * sqrt(col("qn"))))
      .withColumn("rank", row_number().over(
        Window.partitionBy("q_id").orderBy(col("cos").desc, col("vec_id"))))
      .filter(col("rank") <= TopK)
      .select(col("q_id").as("query_id"), col("vec_id").as("neighbor_id"),
        col("rank"), round(col("cos"), 6).as("cosine"))
  }

  private val annPqSql: String =
    s"""WITH $fixedVecsCtes,
       |${pqCodesCtes("pq_")},
       |codes AS (SELECT vec_id, sub, code FROM pq_coded WHERE rn = 1),
       |psub AS (
       |  SELECT n.vec_id AS q_id, g.sub,
       |         n.v[g.sub * $PqSubDim + 1 : g.sub * $PqSubDim + $PqSubDim] AS qx
       |  FROM nv n CROSS JOIN pq_grid g
       |  WHERE n.vec_id % $ProbeMod = 0
       |),
       |lut AS (
       |  SELECT p.q_id, p.sub, c.code,
       |         CAST(list_sum([p.qx[i] * c.cv[i] for i in generate_series(1, len(p.qx))]) AS BIGINT) AS pdot
       |  FROM psub p JOIN pq_cb c USING (sub)
       |),
       |scored AS (
       |  SELECT l.q_id, k.vec_id, CAST(sum(l.pdot) AS BIGINT) AS adot
       |  FROM codes k JOIN lut l ON k.sub = l.sub AND k.code = l.code
       |  WHERE k.vec_id <> l.q_id
       |  GROUP BY 1, 2
       |),
       |short AS (
       |  SELECT q_id, vec_id
       |  FROM (SELECT q_id, vec_id,
       |               row_number() OVER (PARTITION BY q_id ORDER BY adot DESC, vec_id) AS arn
       |        FROM scored)
       |  WHERE arn <= $PqShortlist
       |),
       |rerank AS (
       |  SELECT s.q_id, s.vec_id,
       |         CAST(list_sum([n.v[i] * p.v[i] for i in generate_series(1, len(n.v))]) AS BIGINT)
       |           / (sqrt(n.nrm) * sqrt(p.nrm)) AS cos
       |  FROM short s
       |  JOIN nv n ON n.vec_id = s.vec_id
       |  JOIN nv p ON p.vec_id = s.q_id
       |),
       |ranked AS (
       |  SELECT q_id, vec_id, cos,
       |         row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank
       |  FROM rerank
       |)
       |SELECT q_id AS query_id, vec_id AS neighbor_id, CAST(rank AS INT) AS rank,
       |       round(cos, 6) AS cosine
       |FROM ranked WHERE rank <= $TopK""".stripMargin

  // -------------------------------------------------------------- ann_ivfpq

  /** `ann_ivfpq`: IVF routing composed with PQ-ADC scoring — the FAISS
    * IVFPQ index, the standing billion-scale ANN design. `ann_ivf` scans
    * only nprobe/nlist of the corpus but fetches TRUE vectors inside the
    * lists; `ann_pq` scans 8-byte codes but ALL of them. This composes
    * both reductions: the coarse quantizer routes each probe to its
    * [[NProbe]] inverted lists, ADC scores ONLY those lists' code rows
    * against the probe's (sub, code) lookup table, and the exact re-rank
    * touches just the ADC shortlist. At 100 TB the shape is the point:
    * codes live keyed by list id (the codes⋈assignment join here — in a
    * real store, the physical bucketing), a probe reads nprobe lists ×
    * 8 bytes/vector, the routing frame and the LUT both broadcast, and
    * the one data-sized exchange is the (probe, candidate) partial-sum.
    */
  def annIvfPq(spark: SparkSession, dir: String): DataFrame = {
    val vecs = fixedVecs(spark, dir)
    val cents = seedCents(vecs)
    val cb = trainedPqCodebook(spark, dir, vecs)
    val codes = pqCodesFrom(vecs, cb).select("vec_id", "sub", "code")
    val assigned = assignNearestLocal(vecs, cents).select("vec_id", "c_id")
    annIvfPqFrom(vecs, cents, cb, codes.join(assigned, Seq("vec_id")))
  }

  /** The IVFPQ probe over an arbitrary LIST-KEYED code frame
    * `(vec_id, sub, code, c_id)` — shared by the in-memory [[annIvfPq]]
    * and the stored-layout [[annIvfPqStored]] (whose frame is the
    * partition-pruned read of the persisted codes).
    */
  private def annIvfPqFrom(vecs: DataFrame, cents: DataFrame, cb: DataFrame,
      codedLists: DataFrame): DataFrame = {
    val probeVecs = vecs.filter(col("vec_id") % ProbeMod === 0)
    val probeLists = probeVecs
      .crossJoin(broadcast(cents))
      .withColumn("ccos",
        expr(dotExpr("v", "cv")) / (sqrt(col("nrm")) * sqrt(col("cn"))))
      .withColumn("crn", row_number().over(
        Window.partitionBy("vec_id").orderBy(col("ccos").desc, col("c_id"))))
      .filter(col("crn") <= NProbe)
      .select(col("vec_id").as("q_id"), col("c_id"))
    val probes = probeVecs
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
    val probeSubs = pqSubVecs(probeVecs)
      .select(col("vec_id").as("q_id"), col("sub"), col("x").as("qx"))
    val lut = probeSubs.join(cb, Seq("sub"))
      .select(col("q_id"), col("sub"), col("code"),
        expr(dotExpr("qx", "cv")).as("pdot"))
    val scored = codedLists
      .join(broadcast(probeLists), Seq("c_id"))
      .filter(col("vec_id") =!= col("q_id"))
      .join(broadcast(lut), Seq("q_id", "sub", "code"))
      .groupBy("q_id", "vec_id").agg(sum(col("pdot")).as("adot"))
    val short = scored
      .withColumn("arn", row_number().over(
        Window.partitionBy("q_id").orderBy(col("adot").desc, col("vec_id"))))
      .filter(col("arn") <= PqShortlist)
      .select("q_id", "vec_id")
    vecs.join(broadcast(short), Seq("vec_id"))
      .join(broadcast(probes), Seq("q_id"))
      .withColumn("cos",
        expr(dotExpr("v", "qv")) / (sqrt(col("nrm")) * sqrt(col("qn"))))
      .withColumn("rank", row_number().over(
        Window.partitionBy("q_id").orderBy(col("cos").desc, col("vec_id"))))
      .filter(col("rank") <= TopK)
      .select(col("q_id").as("query_id"), col("vec_id").as("neighbor_id"),
        col("rank"), round(col("cos"), 6).as("cosine"))
  }

  /** `ann_ivfpq_stored`: [[annIvfPq]] served from the FAISS IVFPQ
    * PHYSICAL layout — the compressed codes persisted keyed by their
    * inverted list (`c_id=N` directory per list, each row the 8
    * sub-codes of one vector), so a probe's scan reads nprobe/|cells| of
    * the CODE BYTES off storage (`PartitionFilters` prune the routed
    * lists' files; the true-vector fetch stays the broadcast
    * shortlist semi-join — a point lookup, not a scan). This is the
    * layout a billion-scale FAISS IVFPQ index ships: list-clustered
    * codes on disk, codebook + routing broadcast. Bit-identical to
    * [[annIvfPq]] (same codes, same probe algebra, one parquet
    * roundtrip), so the oracle is its SQL verbatim.
    */
  def annIvfPqStored(spark: SparkSession, dir: String): DataFrame = {
    val vecs = fixedVecs(spark, dir)
    val cents = seedCents(vecs)
    val cb = trainedPqCodebook(spark, dir, vecs)
    val codes = pqCodesFrom(vecs, cb).select("vec_id", "sub", "code")
    val assigned = assignNearestLocal(vecs, cents).select("vec_id", "c_id")
    val idx = graft.model.Spill.path(spark, "ivfpq_codes", dir)
    codes.join(assigned, Seq("vec_id"))
      .write.mode("overwrite").partitionBy("c_id").parquet(idx)
    val routed = ivfProbeLists(vecs, cents, NProbe)
      .select("c_id").distinct().collect().map(_.getLong(0)).sorted
    val lists = spark.read.parquet(idx)
      .filter(col("c_id").isin(routed: _*))
      .select(col("vec_id"), col("sub"), col("code"),
        col("c_id").cast("long").as("c_id"))
    annIvfPqFrom(vecs, cents, cb, lists)
  }

  private val annIvfPqSql: String =
    s"""WITH $fixedVecsCtes,
       |${pqCodesCtes("pq_")},
       |codes AS (SELECT vec_id, sub, code FROM pq_coded WHERE rn = 1),
       |${ivfAssignCtes("ivq_")},
       |probe_lists AS (
       |  SELECT vec_id AS q_id, c_id FROM (
       |    SELECT vec_id, c_id,
       |           row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, c_id) AS crn
       |    FROM ivq_cdist WHERE vec_id % $ProbeMod = 0
       |  ) WHERE crn <= $NProbe
       |),
       |psub AS (
       |  SELECT n.vec_id AS q_id, g.sub,
       |         n.v[g.sub * $PqSubDim + 1 : g.sub * $PqSubDim + $PqSubDim] AS qx
       |  FROM nv n CROSS JOIN pq_grid g
       |  WHERE n.vec_id % $ProbeMod = 0
       |),
       |lut AS (
       |  SELECT p.q_id, p.sub, c.code,
       |         CAST(list_sum([p.qx[i] * c.cv[i] for i in generate_series(1, len(p.qx))]) AS BIGINT) AS pdot
       |  FROM psub p JOIN pq_cb c USING (sub)
       |),
       |scored AS (
       |  SELECT pl.q_id, k.vec_id, CAST(sum(l.pdot) AS BIGINT) AS adot
       |  FROM codes k
       |  JOIN ivq_assigned a ON a.vec_id = k.vec_id
       |  JOIN probe_lists pl ON pl.c_id = a.c_id AND k.vec_id <> pl.q_id
       |  JOIN lut l ON l.q_id = pl.q_id AND l.sub = k.sub AND l.code = k.code
       |  GROUP BY 1, 2
       |),
       |short AS (
       |  SELECT q_id, vec_id
       |  FROM (SELECT q_id, vec_id,
       |               row_number() OVER (PARTITION BY q_id ORDER BY adot DESC, vec_id) AS arn
       |        FROM scored)
       |  WHERE arn <= $PqShortlist
       |),
       |rerank AS (
       |  SELECT s.q_id, s.vec_id,
       |         CAST(list_sum([n.v[i] * p.v[i] for i in generate_series(1, len(n.v))]) AS BIGINT)
       |           / (sqrt(n.nrm) * sqrt(p.nrm)) AS cos
       |  FROM short s
       |  JOIN nv n ON n.vec_id = s.vec_id
       |  JOIN nv p ON p.vec_id = s.q_id
       |),
       |ranked AS (
       |  SELECT q_id, vec_id, cos,
       |         row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank
       |  FROM rerank
       |)
       |SELECT q_id AS query_id, vec_id AS neighbor_id, CAST(rank AS INT) AS rank,
       |       round(cos, 6) AS cosine
       |FROM ranked WHERE rank <= $TopK""".stripMargin

  // ---------------------------------------------------------- recall harness

  /** Recall@k of the approximate ANN paths (multi-table LSH, seed-IVF,
    * k-means-trained IVF, balanced IVF, PQ-ADC, IVF-PQ) against the exact
    * brute-force baseline — the
    * "measure, don't guess" harness a pipeline runs before trusting a
    * sketch at scale: the width dials (NumTables/PlanesPerTable/ProbeDist,
    * CentroidMod, NProbe, TrainIters) are only safe to turn if this number
    * is watched while turning them (`graft.Tune lsh` / `graft.Tune ivf` are
    * the sweep drivers). One row per approximate method with its matched /
    * truth counts and recall fraction.
    *
    * Plan shape: the truth and approximate top-k sub-plans are the six
    * ANN operators unchanged (each already ends in a tiny per-probe top-k
    * frame); the harness itself is a LEFT SEMI join on (query_id,
    * neighbor_id) — semi joins carry no payload and can't duplicate — plus
    * two |methods|-row aggregates and a 1-row truth count, all negligible
    * beside the ANN plans at any scale.
    *
    * All sub-plans consume the SAME persisted corpus conversion: the
    * brute-force/LSH/IVF/PQ plans rebuild `fixedVecs` and hit the cache by
    * plan-match, and the Lloyd loop reuses it via [[trainedCents]]'s
    * `sharedVecs` — one scan+transform instead of eight. That requires the
    * harness to evaluate EAGERLY (the |methods|-row answer is collected
    * while the cache is alive, then returned as a local frame), the
    * dedup_cluster contract: nothing stays pinned in the block manager
    * after the operator returns.
    */
  def recall(spark: SparkSession, dir: String): DataFrame = {
    val vecs = fixedVecs(spark, dir).persist()
    // truth and approx each feed TWO aggregates (the semi-join hit count
    // and the returned-count totals); left as lineage the quadratic
    // brute-force plan and all six approximate plans executed twice in
    // the one eager collect. Persisting the two tiny (method, id-pair)
    // frames makes the second consumer a cache read. Both are freed in
    // the same finally as the corpus — nothing stays pinned after return.
    var truth: DataFrame = null
    var approx: DataFrame = null
    try {
      truth = cosineTopK(spark, dir).select(col("query_id"), col("neighbor_id"))
        .persist()
      val trained = mkCentsDf(spark,
        trainedCents(spark, dir, TrainIters, Some(vecs))._1)
      val balanced = mkCentsDf(spark,
        trainedCentsBalanced(spark, dir, TrainIters, Some(vecs)))
      approx =
        lshBucketed(spark, dir).select(col("query_id"), col("neighbor_id"))
          .withColumn("method", lit("lsh_bucketed"))
          .union(ivf(spark, dir).select(col("query_id"), col("neighbor_id"))
            .withColumn("method", lit("ivf")))
          .union(ivfFrom(vecs, trained).select(col("query_id"), col("neighbor_id"))
            .withColumn("method", lit("ivf_trained")))
          .union(ivfFrom(vecs, balanced).select(col("query_id"), col("neighbor_id"))
            .withColumn("method", lit("ivf_balanced")))
          .union(annPq(spark, dir).select(col("query_id"), col("neighbor_id"))
            .withColumn("method", lit("pq")))
          .union(annIvfPq(spark, dir).select(col("query_id"), col("neighbor_id"))
            .withColumn("method", lit("ivfpq")))
          .persist()
      val matched = approx.join(truth, Seq("query_id", "neighbor_id"), "left_semi")
        .groupBy("method").agg(count(lit(1)).as("n_matched"))
      val totals = approx.groupBy("method").agg(count(lit(1)).as("n_returned"))
      val truthN = truth.agg(count(lit(1)).as("n_truth"))
      val result = totals.join(matched, Seq("method"), "left").crossJoin(truthN)
        .select(col("method"),
          coalesce(col("n_matched"), lit(0L)).as("n_matched"),
          col("n_truth"),
          round(coalesce(col("n_matched"), lit(0L)) / col("n_truth"), 6).as("recall"))
      val rows = java.util.Arrays.asList(result.collect(): _*)
      spark.createDataFrame(rows, result.schema)
    } finally {
      if (approx != null) approx.unpersist(blocking = false)
      if (truth != null) truth.unpersist(blocking = false)
      vecs.unpersist(blocking = true)
    }
  }

  private val recallSql: String =
    s"""WITH bf AS (SELECT query_id, neighbor_id FROM ($cosineTopKSql)),
       |ap AS (
       |  SELECT 'lsh_bucketed' AS method, query_id, neighbor_id FROM ($lshBucketedSql)
       |  UNION ALL
       |  SELECT 'ivf' AS method, query_id, neighbor_id FROM ($ivfSql)
       |  UNION ALL
       |  SELECT 'ivf_trained' AS method, query_id, neighbor_id FROM ($ivfTrainedSql)
       |  UNION ALL
       |  SELECT 'ivf_balanced' AS method, query_id, neighbor_id FROM ($ivfBalancedSql)
       |  UNION ALL
       |  SELECT 'pq' AS method, query_id, neighbor_id FROM ($annPqSql)
       |  UNION ALL
       |  SELECT 'ivfpq' AS method, query_id, neighbor_id FROM ($annIvfPqSql)
       |),
       |m AS (
       |  SELECT method, CAST(count(*) AS BIGINT) AS n_matched
       |  FROM ap JOIN bf USING (query_id, neighbor_id) GROUP BY 1
       |),
       |t AS (SELECT method, CAST(count(*) AS BIGINT) AS n_returned FROM ap GROUP BY 1),
       |n AS (SELECT CAST(count(*) AS BIGINT) AS n_truth FROM bf)
       |SELECT t.method, coalesce(m.n_matched, 0) AS n_matched, n.n_truth,
       |       round(coalesce(m.n_matched, 0) / CAST(n.n_truth AS DOUBLE), 6) AS recall
       |FROM t LEFT JOIN m USING (method) CROSS JOIN n""".stripMargin

  def ops: Seq[Op] = Seq(
    Op("ann_cosine_topk", cosineTopK, Some(cosineTopKSql)),
    Op("ann_lsh_bucketed", lshBucketed, Some(lshBucketedSql)),
    Op("ann_ivf", ivf, Some(ivfSql)),
    Op("ann_ivf_trained", ivfTrained, Some(ivfTrainedSql)),
    Op("ann_ivf_stored", ivfStored, Some(ivfTrainedSql)),
    Op("ann_ivf_stored_live", ivfStoredLive, Some(ivfTrainedSql)),
    Op("ann_ivf_balanced", ivfBalanced, Some(ivfBalancedSql)),
    Op("ann_recall", recall, Some(recallSql)),
    Op("pq_encode", pqEncode, Some(pqEncodeSql)),
    Op("ann_pq", annPq, Some(annPqSql)),
    Op("ann_ivfpq", annIvfPq, Some(annIvfPqSql)),
    Op("ann_ivfpq_stored", annIvfPqStored, Some(annIvfPqSql)),
    Op("dedup_embedding_cosine", embeddingNearDup, Some(embeddingNearDupSql)),
    Op("dedup_semantic", semanticDedup, Some(semanticDedupSql)),
    Op("knn_mutual", knnMutual, Some(knnMutualSql)),
    Op("knn_components", knnComponents, Some(knnComponentsSql)),
    Op("knn_pagerank", knnPagerank, Some(knnPagerankSql)),
    Op("knn_graph_ivf", knnGraphIvf, Some(knnGraphIvfSql)),
    Op("knn_graph_refined", knnGraphRefined, Some(knnGraphRefinedSql)),
    Op("knn_components_ivf", knnComponentsIvf, Some(knnComponentsIvfSql)),
    Op("knn_pagerank_ivf", knnPagerankIvf, Some(knnPagerankIvfSql)),
    Op("knn_graph_recall", knnGraphRecall, Some(knnGraphRecallSql)),
    Op("cluster_purity", clusterPurity, Some(clusterPuritySql)),
    Op("kmeans_step", kmeansStep, Some(kmeansStepSql)),
    Op("kmeans_train", kmeansTrain, Some(kmeansTrainSql))
  )
}
