package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicBoolean

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.GraftExtensions
import graft.operators.Dedup

/** Session state is set where the session is built:
  *
  *  - while an operator runs, a sibling thread on the same session sees
  *    the session's own shuffle width throughout (`componentsFrom` sizes
  *    its loop on its frames, and a stream replay on a session wider than
  *    `StreamShufflePartitions` starts on a clone at that width, whose
  *    state partitions and progress the session's own listeners see);
  *  - `componentsFrom`'s label aggregation exchanges at the loop's own
  *    width, with no more exchanges per round than the aggregation and
  *    the doubling join's two sides, and a one-partition loop broadcasts
  *    its label frame into both joins, so its only exchange is the
  *    aggregation's;
  *  - a session built with only `GraftExtensions` has every native
  *    function, and `GraftExtensions.register` leaves a registered
  *    function as it is.
  */
class SessionStateSpec extends AnyFunSuite with TestSpark with AdaptiveSparkPlanHelper {

  /** Every value of `spark.sql.shuffle.partitions` a sibling thread reads
    * while `body` runs.
    */
  private def widthsDuring(s: SparkSession)(body: => Unit): Seq[String] = {
    val seen = new ConcurrentLinkedQueue[String]()
    val done = new AtomicBoolean(false)
    val sampler = new Thread(() => {
      while (!done.get()) {
        seen.add(s.conf.get("spark.sql.shuffle.partitions"))
        Thread.sleep(1)
      }
    })
    sampler.start()
    try body finally {
      done.set(true)
      sampler.join()
    }
    seen.asScala.toSeq
  }

  Seq("dedup_cluster", "stream_sessionize").foreach { name =>
    test(s"$name leaves the session width unchanged for a sibling thread") {
      val width = spark.conf.get("spark.sql.shuffle.partitions")
      val op = Registry.select(Set(name)).head
      val seen = widthsDuring(spark) {
        op.run(spark, Sf).write.format("noop").mode("overwrite").save()
      }
      assert(seen.nonEmpty)
      assert(seen.forall(_ == width),
        s"$name changed the session width: saw ${seen.distinct} beside $width")
    }
  }

  test("a session wider than StreamShufflePartitions replays on a clone at that width") {
    val wide = spark.newSession()
    wide.conf.set("spark.sql.shuffle.partitions", "16")
    val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.add(e.progress)
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    wide.streams.addListener(listener)
    val op = Registry.select(Set("stream_sessionize")).head
    var rows = Seq.empty[org.apache.spark.sql.Row]
    try {
      val seen = widthsDuring(wide) { rows = op.run(wide, Sf).collect().toSeq }
      assert(seen.nonEmpty && seen.forall(_ == "16"), s"saw ${seen.distinct} beside 16")
      // the listener bus is asynchronous: wait for a stateful progress
      val deadline = System.currentTimeMillis() + 30000
      while (!progress.asScala.exists(_.stateOperators.nonEmpty) &&
        System.currentTimeMillis() < deadline) Thread.sleep(20)
    } finally wide.streams.removeListener(listener)
    val stateful = progress.asScala.toSeq.flatMap(_.stateOperators)
    assert(stateful.nonEmpty, "the wide session's listener saw no replay progress")
    assert(stateful.forall(_.numShufflePartitions ==
      graft.streaming.CarbonStream.StreamShufflePartitions),
      s"state partitions: ${stateful.map(_.numShufflePartitions).distinct}")
    assert(rows.map(_.toString).sorted ==
      op.run(spark, Sf).collect().map(_.toString).toSeq.sorted)
  }

  /** The final executed plan of every query `body` runs. */
  private def executedPlans(body: => Unit): Seq[QueryExecution] = {
    val seen = new ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = seen.add(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      // the listener bus is asynchronous: wait for a marker query behind it
      spark.range(1).toDF("session_state_marker").collect()
      val deadline = System.currentTimeMillis() + 30000
      while (!seen.asScala.exists(_.analyzed.output.exists(_.name == "session_state_marker")) &&
        System.currentTimeMillis() < deadline) Thread.sleep(20)
    } finally spark.listenerManager.unregister(listener)
    seen.asScala.toSeq
  }

  /** `componentsFrom` over `n` two-vertex components: the shuffle
    * exchanges of each loop query (the label aggregation's and the
    * doubling join's) and the rounds the loop took.
    */
  private def loopExchanges(n: Long): (Seq[Seq[ShuffleExchangeExec]], Int) = {
    import spark.implicits._
    val pairs = (0L until n).map(i => (2 * i, 2 * i + 1)).toDF("a", "b")
    val universe = (0L until 2 * n).toDF("id")
    var labels = Seq.empty[(Long, Long)]
    val plans = executedPlans {
      labels = Dedup.componentsFrom(spark, Sf, pairs, "a", "b", universe, "id",
        "session_state_loop").select("id", "cluster_id").as[(Long, Long)].collect().toSeq
    }
    assert(labels.size == 2 * n && labels.forall { case (id, c) => c == id - id % 2 })
    val rounds = Dedup.lastIterations.get()
    val loop = plans.collect {
      case qe if qe.executedPlan.toString.contains("pvid") ||
        collect(qe.executedPlan) { case e: ShuffleExchangeExec => e }
          .exists(_.shuffleOrigin == REPARTITION_BY_NUM) =>
        collect(qe.executedPlan) { case e: ShuffleExchangeExec => e }
    }
    assert(loop.size == 2 * rounds, s"${loop.size} loop queries over $rounds rounds")
    (loop, rounds)
  }

  test("componentsFrom's label aggregation exchanges at the loop width") {
    // 200k vertices: the loop width is 200000 / 100000 + 1 = 3, below the
    // session's 4
    val (loop, rounds) = loopExchanges(100000L)
    val sized = loop.map(_.filter(_.shuffleOrigin == REPARTITION_BY_NUM)).filter(_.nonEmpty)
    assert(sized.map(_.map(_.numPartitions)) == Seq.fill(rounds)(Seq(3)),
      s"loop-width exchanges per query: ${sized.map(_.map(_.simpleString(120)))}")
    // each round exchanges at most the aggregation input and the two
    // sides of the doubling join
    assert(loop.map(_.size).sum <= 3 * rounds,
      s"loop exchanges per query: ${loop.map(_.size)} over $rounds rounds")
  }

  test("below 100k vertices componentsFrom's loop shuffles only its one-partition aggregation") {
    val (loop, rounds) = loopExchanges(1000L)
    assert(loop.flatten.map(e => (e.shuffleOrigin, e.numPartitions)) ==
      Seq.fill(rounds)((REPARTITION_BY_NUM, 1)),
      s"loop exchanges: ${loop.map(_.map(_.simpleString(120)))}")
  }

  test("a session built with only GraftExtensions runs every native function") {
    val ext = SparkSession.builder().withExtensions(new GraftExtensions).create()
    try {
      val registry = ext.sessionState.functionRegistry
      GraftExtensions.functions.foreach { case (id, _, _) =>
        assert(registry.functionExists(id), s"${id.funcName} missing")
      }
      val bins = ext.sql("SELECT vec_hashbin(array(1L, 3L, 3L, 6L), 4) AS b")
        .head().getSeq[Long](0)
      // bin h % 4, sign +1 when (h / 4) is odd: 1 -> bin 1 (-1),
      // 3 -> bin 3 (-1, twice), 6 -> bin 2 (+1)
      assert(bins == Seq(0L, -1L, 1L, -2L))
    } finally {
      SparkSession.setActiveSession(spark)
      SparkSession.setDefaultSession(spark)
    }
  }

  test("register adds only the missing names and keeps a registered one") {
    val s = spark.newSession()
    val registry = s.sessionState.functionRegistry
    val dot = FunctionIdentifier("vec_dot")
    val sentinel = new ExpressionInfo("sentinel", "vec_dot")
    registry.registerFunction(dot, sentinel, (_: Seq[Expression]) => Literal(-1.0))
    GraftExtensions.register(s)
    assert(registry.lookupFunction(dot).get eq sentinel)
    assert(s.sql("SELECT vec_dot(array(1.0), array(1.0))").head().getDouble(0) == -1.0)
    GraftExtensions.functions.foreach { case (id, info, _) =>
      if (id != dot) assert(registry.lookupFunction(id).get eq info, s"${id.funcName}")
    }
  }
}
