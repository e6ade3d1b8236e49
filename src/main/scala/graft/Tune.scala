package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Tables
import graft.operators.{Bpe, Similarity, TextOps}

/** Dial-measurement harness: the "measure, don't guess" loop behind every
  * approximate operator's shipped operating point. Each sweep scores a
  * grid of dial settings against an exact (brute-force) truth and prints
  * one line per setting; the results land in docs/TUNING.md. Run:
  *
  *   runMain graft.Tune <sweep> [sfDir] [dials…]
  *
  * `<sweep>` is one of lsh|ivf|pq|sem|knngraph|chunkann|bpe (the dial
  * table below). `sfDir` defaults to the sf0.01 fixture, sf0.1 for bpe.
  * Comma-list dials (`mod,mod,...`) fall back to the defaults on each
  * sweep when omitted.
  */
object Tune {
  private val SmallFixture = "/root/testdata/sf0.01"

  private type Body = (SparkSession, String, Seq[String]) => Unit

  /** sweep name -> (default fixture, body taking the dials after sfDir) */
  private val sweeps: Seq[(String, (String, Body))] = Seq(
    "lsh" -> (SmallFixture -> lsh _),
    "ivf" -> (SmallFixture -> ivf _),
    "pq" -> (SmallFixture -> pq _),
    "sem" -> (SmallFixture -> sem _),
    "knngraph" -> (SmallFixture -> knnGraph _),
    "chunkann" -> (SmallFixture -> chunkAnn _),
    "bpe" -> ("/root/testdata/sf0.1" -> bpe _))

  def main(args: Array[String]): Unit = {
    val table = sweeps.toMap
    val name = args.headOption.getOrElse("")
    require(table.contains(name),
      s"unknown sweep '$name': usage runMain graft.Tune <sweep> [sfDir] " +
        s"[dials...] with <sweep> one of ${sweeps.map(_._1).mkString("|")}")
    val (defaultDir, body) = table(name)
    val spark = Harness.session(8, s"graft-$name-tune")
    // the sem truth calls vec_dot in its own SQL, before any operator
    // has registered the vector functions
    graft.functions.GraftExtensions.register(spark)
    body(spark, args.lift(1).getOrElse(defaultDir), args.drop(2).toSeq)
    spark.stop()
  }

  // ------------------------------------------------------- shared pieces

  /** Dial `i` as a comma list, or `default` when it is not given. */
  private def list[T](dials: Seq[String], i: Int, default: Seq[T])(
      parse: String => T): Seq[T] =
    dials.lift(i).map(_.split(",").toSeq.map(parse)).getOrElse(default)

  /** hits / |truth|; an empty truth has nothing to miss. */
  private def recall(hits: Long, nTruth: Long): Double =
    if (nTruth == 0) 1.0 else hits.toDouble / nTruth

  /** An exact answer set, persisted and counted once, and the recall step
    * every sweep shares: approximate rows found in the truth, joined on
    * all of its columns.
    */
  private final class Truth(df: DataFrame) {
    val rows: DataFrame = df.persist()
    val n: Long = rows.count()
    def hits(approx: DataFrame): Long = {
      val keys = rows.columns.toSeq
      approx.select(keys.map(col): _*).join(rows, keys, "left_semi").count()
    }
    def unpersist(): Unit = rows.unpersist(blocking = true)
  }

  /** The exact cosine top-k the lsh/ivf/pq sweeps score against. */
  private def exactTopK(spark: SparkSession, dir: String): Truth =
    new Truth(Similarity.cosineTopK(spark, dir)
      .select(col("query_id"), col("neighbor_id")))

  /** Recall@k and scanned fraction of one candidate frame. Scanned
    * fraction = distinct scored pairs / (probes × (corpus-1)): the share
    * of the brute-force work the index actually performs.
    */
  private def candidateScore(spark: SparkSession, dir: String,
      truth: Truth): DataFrame => (Double, Double) = {
    val emb = Tables.embeddings(spark, dir)
    val corpus = emb.count()
    val nProbes = emb.filter(col("vec_id") % Similarity.ProbeMod === 0).count()
    cands => {
      val cached = cands.cache()
      val scanned = cached.count() / (nProbes * (corpus - 1).toDouble)
      val hits = truth.hits(Similarity.topKFromCands(cached))
      cached.unpersist(blocking = true)
      (recall(hits, truth.n), scanned)
    }
  }

  // ------------------------------------------------------------- sweeps

  /** lsh [T:P:D ...]: (tables, planes/table, probe distance) — the
    * `ann_lsh_bucketed` operating point. Defaults sweep around the
    * shipped config.
    */
  private def lsh(spark: SparkSession, dir: String, dials: Seq[String]): Unit = {
    val configs: Seq[(Int, Int, Int)] =
      if (dials.nonEmpty) dials.map { s =>
        val Array(t, p, d) = s.split(":").map(_.toInt); (t, p, d)
      }
      else Seq((1, 6, 1), (3, 6, 1), (4, 8, 1), (8, 10, 2), (6, 12, 2),
        (8, 12, 2), (10, 12, 2), (8, 14, 2))
    val truth = exactTopK(spark, dir)
    val score = candidateScore(spark, dir, truth)
    configs.foreach { case (t, p, d) =>
      val (r, scanned) = score(Similarity.lshCandidates(spark, dir,
        Similarity.tablePlanesFor(t, p), d))
      println(f"LSHTUNE tables=$t%2d planes=$p%2d dist=$d " +
        f"recall@${Similarity.TopK}=$r%.3f scanned=$scanned%.4f")
    }
    truth.unpersist()
  }

  /** ivf [maxIters]: recall@k of the IVF index after 0..maxIters Lloyd
    * iterations of `kmeans_train` (0 = the raw seed quantizer `ann_ivf`
    * ships) — the dial `TrainIters` is set from — then the split-hot/
    * merge-cold balanced quantizer (`ann_ivf_balanced`) at maxIters.
    */
  private def ivf(spark: SparkSession, dir: String, dials: Seq[String]): Unit = {
    val maxIters = dials.headOption.map(_.toInt).getOrElse(4)
    val truth = exactTopK(spark, dir)
    val score = candidateScore(spark, dir, truth)

    def measure(label: String, vecs: DataFrame, cents: DataFrame,
        nprobe: Int): Unit = {
      val (r, scanned) = score(Similarity.ivfCands(vecs, cents, nprobe))
      // inverted-list occupancy of the quantizer: (cells, max, mean) — the
      // scan-fraction skew measure `ann_ivf_balanced` exists to improve
      val occ = Similarity.assignNearestOcc(vecs, cents)
        .agg(count(lit(1)), max("occ"), sum("occ").cast("double") / count(lit(1)))
        .head()
      println(f"IVFTUNE $label nprobe=$nprobe " +
        f"recall@${Similarity.TopK}=$r%.3f scanned=$scanned%.4f " +
        f"cells=${occ.getLong(0)} cell_max=${occ.getLong(1)} " +
        f"cell_mean=${occ.getDouble(2)}%.1f")
    }

    val nprobes = Seq(Similarity.NProbe, Similarity.NProbe + 1)
    for (it <- 0 to maxIters; nprobe <- nprobes) {
      val vecs = Similarity.fixedVecs(spark, dir)
      val cents =
        if (it == 0) Similarity.seedCents(vecs)
        else Similarity.mkCentsDf(spark, Similarity.trainedCents(spark, dir, it)._1)
      measure(s"iters=$it", vecs, cents, nprobe)
    }
    for (nprobe <- nprobes) {
      val vecs = Similarity.fixedVecs(spark, dir)
      val cents = Similarity.mkCentsDf(spark,
        Similarity.trainedCentsBalanced(spark, dir, maxIters))
      measure(s"balanced iters=$maxIters", vecs, cents, nprobe)
    }
    truth.unpersist()
  }

  /** pq [source,...] [k,...] [shortlist,...]: recall@k of `ann_pq` (ADC
    * shortlist + exact re-rank) across codebook sizes and shortlist
    * widths, next to the mean quantization error each codebook leaves —
    * the dials `PqCodebookK` and `PqShortlist` are set from. `rerank_frac`
    * is the fraction of the corpus the exact re-rank touches per probe
    * (the fetch cost the compressed scan is buying down).
    */
  private def pq(spark: SparkSession, dir: String, dials: Seq[String]): Unit = {
    val truth = exactTopK(spark, dir)
    val corpus = Tables.embeddings(spark, dir).count()
    val sources = list(dials, 0, Seq("seed", "trained"))(identity)
    // optional dial lists (r15: the frontier moved past the built-ins)
    val ks = list(dials, 1, Seq(8, 16, 32))(_.toInt)
    val shortlists = list(dials, 2, Seq(10, 25, 50, 100))(_.toInt)
    for (source <- sources; k <- ks; shortlist <- shortlists) {
      val vecs = Similarity.fixedVecs(spark, dir)
      val cb =
        if (source == "seed") Similarity.pqCodebook(vecs, k)
        else Similarity.trainedPqCodebook(spark, dir, vecs, k)
      val meanQerr = Similarity.pqCodesFrom(vecs, cb)
        .agg(avg("qerr")).head().getDouble(0)
      val hits = truth.hits(Similarity.annPqWith(spark, dir, shortlist, k, source))
      println(f"PQTUNE source=$source k=$k shortlist=$shortlist " +
        f"recall@${Similarity.TopK}=${recall(hits, truth.n)}%.3f " +
        f"rerank_frac=${shortlist / (corpus - 1).toDouble}%.4f " +
        f"mean_qerr=$meanQerr%.3e")
    }
    truth.unpersist()
  }

  /** sem [mod,...] [thr,...]: `dedup_semantic`'s frontier — drop-rate vs
    * (threshold, centroidMod) plus how many of the ALL-PAIRS duplicates
    * the cell scoping actually sees (its recall). The brute-force truth is
    * every pair at cosine ≥ threshold regardless of cell — quadratic,
    * harness only, like `ann_recall`'s exact side.
    */
  private def sem(spark: SparkSession, dir: String, dials: Seq[String]): Unit = {
    val mods = list(dials, 0, Seq(64, 125, 250))(_.toInt)
    val thrs = list(dials, 1, Seq(0.35, 0.4, 0.45))(_.toDouble)
    val emb = Tables.embeddings(spark, dir)
      .selectExpr("vec_id",
        s"transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * ${Similarity.Scale}) AS BIGINT)) AS v")
      .withColumn("nrm", expr("vec_dot(v, v)"))
      .persist()
    val n = emb.count()

    println("%6s %6s | %9s %9s | %s".format(
      "thr", "mod", "dropped", "all-pairs", "recall"))
    thrs.foreach { thr =>
      // brute-force duplicate truth: vec has ANY lower-id partner >= thr
      val lower = emb.selectExpr("vec_id AS a_id", "v AS av", "nrm AS an")
      val truth = emb.join(lower, col("a_id") < col("vec_id"))
        .filter(expr("vec_dot(v, av)") / (sqrt(col("nrm")) * sqrt(col("an"))) >= thr)
        .select("vec_id").distinct().count()
      mods.foreach { mod =>
        val got = Similarity.semanticDedupWith(spark, dir, thr, mod)
          .filter(!col("kept")).count()
        println(f"$thr%6.2f $mod%6d | $got%9d $truth%9d | ${recall(got, truth)}%.3f")
      }
    }
    println(s"(n=$n vectors; 'dropped' = vectors with an in-cell lower-id " +
      "partner; recall = dropped / all-pairs-dup truth)")
    emb.unpersist()
  }

  /** knngraph [mod,...] [nprobe,...] [rounds,...] [source,...]:
    * `knn_graph_ivf`'s frontier — mutual-edge recall of the IVF cell-mate
    * graph vs the exact slice kNN graph, on the tractable `%5` vertex
    * slice where the exact truth is affordable. rounds > 0 adds that many
    * NN-Descent refinement rounds; sources: seed|trained (trained =
    * TrainIters Lloyd rounds from the same seeds).
    */
  private def knnGraph(spark: SparkSession, dir: String, dials: Seq[String]): Unit = {
    val mods = list(dials, 0, Seq(63, 125, 251))(_.toInt)
    val nprobes = list(dials, 1, Seq(1, 2))(_.toInt)
    val exact = new Truth(Similarity.exactSliceEdges(spark, dir).select("q_id", "n_id"))
    val roundsSweep = list(dials, 2, Seq(0, 1, 2, 3))(_.toInt)
    val sources = list(dials, 3, Seq("seed"))(identity)
    println("%8s %6s %7s %7s | %9s %6s | %s".format(
      "source", "mod", "nprobe", "rounds", "n_approx", "n_hit", "edge_recall"))
    for (src <- sources; mod <- mods; np <- nprobes; rounds <- roundsSweep) {
      val approx =
        if (rounds > 0)
          Similarity.sliceEdgesRefinedWith(spark, dir, src, mod, np, rounds)
        else Similarity.sliceEdgesIvfWith(spark, dir, src, mod, np)
      val nApprox = approx.count()
      val nHit = exact.hits(approx)
      println(f"$src%8s $mod%6d $np%7d $rounds%7d | $nApprox%9d $nHit%6d | " +
        f"${recall(nHit, exact.n)}%.3f")
    }
    println(s"(truth = ${exact.n} directed mutual edges from the exact slice " +
      "kNN; shipped dial = CentroidMod " +
      s"${Similarity.CentroidMod}, nprobe ${Similarity.KnnGraphNProbe}, trained)")
    exact.unpersist()
  }

  /** chunkann [mod,...] [nprobe,...] [source,...] [iters,...]:
    * `chunk_ann`'s frontier — retrieval recall of the IVF-served chunk
    * path vs the exact `chunk_knn` baseline across (centMod, nprobe).
    * sources: seed|trained (trained = ChunkTrainIters Lloyd rounds from
    * the same seeds).
    */
  private def chunkAnn(spark: SparkSession, dir: String, dials: Seq[String]): Unit = {
    val mods = list(dials, 0, Seq(13, 25, 50))(_.toInt)
    val nprobes = list(dials, 1, Seq(1, 2, 4))(_.toInt)
    val truth = new Truth(TextOps.chunkKnn(spark, dir)
      .select("query_doc", "chunk_doc", "chunk_id"))
    val sources = list(dials, 2, Seq("seed"))(identity)
    // optional 4th dial: Lloyd iteration counts to sweep for the trained
    // source (e.g. "2,4") — the oracle cost dial (each iteration is one
    // n×k CTE round in DuckDB)
    val iterSweep = list(dials, 3, Seq.empty[Int])(_.toInt)
    println("%8s %6s %7s | %6s | %s".format(
      "source", "mod", "nprobe", "n_hit", "recall"))
    for (src <- sources; mod <- mods; np <- nprobes) {
      if (iterSweep.nonEmpty && src == "trained") iterSweep.foreach { it =>
        val cents = TextOps.mkChunkCentsDf(spark,
          TextOps.trainedChunkCents(spark, dir, it, mod))
        val nHit = truth.hits(TextOps.chunkAnnFrom(spark, dir,
          TextOps.chunkDense(spark, dir), cents, np))
        println(f"$src%8s(i$it) $mod%6d $np%7d | $nHit%6d | ${recall(nHit, truth.n)}%.3f")
      }
      else {
        val nHit = truth.hits(TextOps.chunkAnnWith(spark, dir, mod, np, src))
        println(f"$src%8s $mod%6d $np%7d | $nHit%6d | ${recall(nHit, truth.n)}%.3f")
      }
    }
    println(s"(truth = ${truth.n} exact top-k rows; scanned fraction per " +
      "probe ~ nprobe/|cells|, cells ~ |docs|/mod; shipped dial = " +
      s"ChunkCentMod ${TextOps.ChunkCentMod}, nprobe ${TextOps.ChunkNProbe})")
    truth.unpersist()
  }

  /** bpe: corpus compression (tokens per word) as a function of merge
    * count — the curve `Bpe.Merges` is set from. The merge sequence is
    * prefix-stable, so one training at the sweep maximum yields every
    * point by slicing; per point the corpus-weighted token count is one
    * nested-replace projection over the distinct-word frame joined to the
    * word-frequency table (no re-scan of documents). `chars_per_tok` is
    * the mean compressed-symbol length (char+</w> inventory / tokens) — it
    * rises as merges fuse; the tokens/word curve flattening is the law
    * that says where extra merges stop paying.
    */
  private def bpe(spark: SparkSession, dir: String, dials: Seq[String]): Unit = {
    val sweep = Seq(0, 2, 4, 8, 16, 32, 64)
    val all = Bpe.trainedMergesN(spark, dir, sweep.max)
    if (all.size < sweep.max)
      println(s"note: merge supply dried up at ${all.size} rounds on this corpus")

    val wordFreq = Bpe.corpusWords(spark, dir)
      .groupBy("word").agg(count(lit(1)).as("freq")).persist()
    val Seq(totWords, totChars) = wordFreq
      .agg(sum("freq"), sum(col("freq") * length(col("word"))))
      .head().toSeq.map(_.asInstanceOf[Long]): @unchecked

    println(f"corpus: $totWords%d word occurrences, $totChars%d chars, " +
      f"${all.size}%d merges trained")
    println("merges  tokens       tok/word  chars+eow/tok")
    sweep.filter(_ <= all.size).foreach { n =>
      val chain = Bpe.applyChainSql(all.take(n))
      val toks = wordFreq
        .withColumn("n_sym", expr(s"cast(size(split(trim($chain), '  ')) as bigint)"))
        .agg(sum(col("freq") * col("n_sym"))).head().getLong(0)
      println(f"$n%6d  $toks%10d  ${toks.toDouble / totWords}%8.4f  " +
        f"${(totChars + totWords).toDouble / toks}%8.4f")
    }
    wordFreq.unpersist(blocking = true)
  }
}
