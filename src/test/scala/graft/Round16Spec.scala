package graft

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Round-16 gates: the row-local assignment kernels (optimization round
  * 2's flagship change — guide §2.4 "remove shuffles outright").
  *
  * Every IVF/graph/chunk/PQ assignment used to pay an exchange of the
  * FULL corpus (broadcast crossJoin + `max_by`/`min_by` aggregation or a
  * window rank); r16 replaces the batch paths with one map-side native
  * kernel per row (`vec_top_cells` / `vec_best_code`) over the quantizer
  * collapsed to a single broadcast array row. These tests pin the
  * selection semantics bit-for-bit against independently-written
  * reference forms (the window/agg shapes the DuckDB oracles mirror):
  * same per-pair arithmetic, same (score, id) tiebreaks, same rows.
  */
class Round16Spec extends AnyFunSuite with TestSpark {

  private def vecs = {
    graft.functions.GraftExtensions.register(spark)
    graft.operators.Similarity.fixedVecs(spark, Sf)
  }

  test("assignNearestLocal equals the max_by aggregation form") {
    import graft.operators.Similarity
    val cents = Similarity.centsFor(spark, Sf, "trained", Similarity.CentroidMod)
    def rows(df: DataFrame) = df
      .select("vec_id", "c_id", "ccos")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val local = rows(Similarity.assignNearestLocal(vecs, cents))
    val agg = rows(Similarity.assignNearest(vecs, cents))
    assert(local == agg,
      s"row-local argmax diverged: ${(local diff agg).take(5)} vs " +
        s"${(agg diff local).take(5)}")
  }

  test("assignTopN equals the window-rank reference at nprobe 3") {
    import graft.operators.Similarity
    graft.functions.GraftExtensions.register(spark)
    val nprobe = 3
    val cents = Similarity.centsFor(spark, Sf, "trained", Similarity.CentroidMod)
    val got = Similarity.assignTopN(vecs, cents, nprobe)
      .select("vec_id", "c_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // reference: the oracle's own shape — score every (vec, cell) pair,
    // rank by (ccos DESC, c_id ASC), keep crn <= nprobe
    val want = vecs.crossJoin(broadcast(cents))
      .withColumn("ccos",
        expr("vec_dot(v, cv)") / (sqrt(col("nrm")) * sqrt(col("cn"))))
      .withColumn("crn", row_number().over(
        Window.partitionBy("vec_id").orderBy(col("ccos").desc, col("c_id"))))
      .filter(col("crn") <= nprobe)
      .select("vec_id", "c_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want,
      s"row-local top-N diverged: ${(got diff want).take(5)} vs " +
        s"${(want diff got).take(5)}")
  }

  test("ivfProbeLists equals the window-rank reference") {
    import graft.operators.Similarity
    graft.functions.GraftExtensions.register(spark)
    val cents = Similarity.centsFor(spark, Sf, "trained", Similarity.CentroidMod)
    val got = Similarity.ivfProbeLists(vecs, cents, Similarity.NProbe)
      .select("q_id", "c_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = vecs.filter(col("vec_id") % Similarity.ProbeMod === 0)
      .crossJoin(broadcast(cents))
      .withColumn("ccos",
        expr("vec_dot(v, cv)") / (sqrt(col("nrm")) * sqrt(col("cn"))))
      .withColumn("crn", row_number().over(
        Window.partitionBy("vec_id").orderBy(col("ccos").desc, col("c_id"))))
      .filter(col("crn") <= Similarity.NProbe)
      .select("vec_id", "c_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want, s"probe routing diverged")
  }

  test("pqCodesFrom equals the min_by aggregation form (codes AND qerr)") {
    import graft.operators.Similarity
    graft.functions.GraftExtensions.register(spark)
    val cb = Similarity.trainedPqCodebook(spark, Sf, vecs)
    val got = Similarity.pqCodesFrom(vecs, cb)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3))).toSet
    // reference: the r15 broadcast-join + min_by(struct(d2, code)) shape
    val subs = vecs.select(col("vec_id"),
        posexplode(expr(Similarity.pqSlices)).as(Seq("sub", "x")))
      .withColumn("xn", expr("vec_dot(x, x)"))
    val want = subs.join(broadcast(cb), Seq("sub"))
      .withColumn("d2",
        col("xn") - lit(2L) * expr("vec_dot(x, cv)") + col("cn"))
      .groupBy("vec_id", "sub")
      .agg(min_by(struct(col("code"), col("d2")), struct(col("d2"), col("code"))).as("b"))
      .select(col("vec_id"), col("sub"), col("b.code"), col("b.d2"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3))).toSet
    assert(got == want,
      s"row-local PQ encode diverged: ${(got diff want).take(5)} vs " +
        s"${(want diff got).take(5)}")
  }

  test("hashedDenseDocs (row-local) equals the embedHashing-composed form") {
    import graft.operators.TextOps
    graft.functions.GraftExtensions.register(spark)
    val got = TextOps.hashedDenseDocs(spark, Sf)
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toList, r.getLong(2))).toSet
    // reference: the r15 densify — sparse (doc_id, dim, val) rows from the
    // registered embed_hashing operator, collected into a dense vector
    val want = TextOps.embedHashing(spark, Sf)
      .groupBy("doc_id")
      .agg(map_from_entries(collect_list(struct(col("dim"), col("val")))).as("m"))
      .withColumn("v", expr(
        s"transform(sequence(0, ${TextOps.EmbedDims - 1}), i -> coalesce(try_element_at(m, i), CAST(0 AS BIGINT)))"))
      .withColumn("nrm", expr("vec_dot(v, v)"))
      .filter(col("nrm") > 0)
      .select("doc_id", "v", "nrm")
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toList, r.getLong(2))).toSet
    assert(got.nonEmpty && got == want,
      s"row-local doc embedding diverged: ${(got diff want).take(2)} vs " +
        s"${(want diff got).take(2)}")
  }

  test("assignChunks equals the max_by aggregation form") {
    import graft.operators.{Similarity, TextOps}
    graft.functions.GraftExtensions.register(spark)
    val dense = TextOps.chunkDense(spark, Sf)
    val cents = TextOps.chunkCentsFor(spark, Sf, "trained", TextOps.ChunkCentMod)
    val got = TextOps.assignChunks(dense, cents)
      .select("doc_id", "chunk_id", "c_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val want = dense.crossJoin(broadcast(cents))
      .withColumn("ccos",
        expr("vec_dot(v, cv)") / (sqrt(col("nrm")) * sqrt(col("cn"))))
      .groupBy("doc_id", "chunk_id")
      .agg(max_by(col("c_id"), struct(col("ccos"), -col("c_id"))).as("c_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want,
      s"row-local chunk argmax diverged: ${(got diff want).take(5)} vs " +
        s"${(want diff got).take(5)}")
  }

  test("vec_best_code over an empty entry list is null, codegen and interpreted") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types._
    val entry = new StructType().add("code", IntegerType, nullable = false)
      .add("cv", ArrayType(LongType, containsNull = false), nullable = false)
      .add("cn", LongType, nullable = false)
    // every child is non-null: only the kernel itself can produce the null
    val e = graft.functions.VecBestCode(
      BoundReference(0, ArrayType(LongType, containsNull = false), nullable = false),
      BoundReference(1, LongType, nullable = false),
      BoundReference(2, ArrayType(entry, containsNull = false), nullable = false))
    assert(e.nullable)
    val row = InternalRow(new GenericArrayData(Array[Any](3L, 4L)), 25L,
      new GenericArrayData(Array.empty[Any]))
    assert(e.eval(row) == null, "interpreted evaluation must give null")
    // an unsafe projection writes the struct unless isNull is set, so a
    // null value behind isNull=false fails here with an NPE
    val projected = GenerateUnsafeProjection.generate(Seq(e)).apply(row)
    assert(projected.isNullAt(0), "generated code must set isNull")
    // end to end: a non-nullable declaration lets the optimizer fold
    // `IS NULL` to false
    graft.functions.GraftExtensions.register(spark)
    val nulls = spark.range(2)
      .selectExpr("array(id + 3, id + 4) AS x", "id + 25 AS xn")
      .selectExpr("vec_best_code(x, xn, filter(" +
        "array(named_struct('code', 0, 'cv', x, 'cn', xn)), e -> false)) AS b")
      .filter(col("b").isNull)
      .count()
    assert(nulls == 2)
  }

  test("an empty quantizer assigns and probes nothing, like assignNearest") {
    import graft.operators.Similarity
    val cents = Similarity.centsFor(spark, Sf, "trained", Similarity.CentroidMod)
      .limit(0)
    assert(Similarity.assignNearest(vecs, cents).count() == 0)
    assert(Similarity.assignNearestLocal(vecs, cents).count() == 0)
    assert(Similarity.ivfProbeLists(vecs, cents, Similarity.NProbe).count() == 0)
    assert(Similarity.assignTopN(vecs, cents, 3).count() == 0)
  }
}
