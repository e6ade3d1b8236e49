package graft.model

/** Rollup configuration model mirroring cassabon's `rollups:` yaml section
  * (reference config/config_parser.go:LoadRollups, config/cassabon.yaml.template:58-107):
  * a set of regex-keyed expressions, each with an aggregation method and a
  * list of `window:retention` pairs, plus a `default` catchall.
  *
  * Priority ordering follows reference config/util.go `ByPriority`:
  * longer regexes first, same-length lexically, catchall always last.
  * Dispatch is first-match-wins down that order
  * (reference datastore/metricstore.go:11-22).
  */
sealed abstract class RollupMethod(val name: String)
object RollupMethod {
  case object Average extends RollupMethod("average")
  case object Sum     extends RollupMethod("sum")
  case object Max     extends RollupMethod("max")
  case object Min     extends RollupMethod("min")
  case object Last    extends RollupMethod("last")
  val all: Seq[RollupMethod] = Seq(Average, Sum, Max, Min, Last)
}

/** One `window:retention` pair. Each retention gets its own table named
  * `rollup_%09d` of the retention seconds
  * (reference datastore/metricmanager.go:155-171 + config_parser.go table naming).
  */
final case class RollupWindow(windowSec: Long, retentionSec: Long) {
  def table: String = f"rollup_$retentionSec%09d"
}

object RollupWindow {
  /** Inverse of [[RollupWindow.table]]: group 1 is the retention seconds.
    * A store's TTL comes from the table names on disk, so any retention a
    * yaml config declares expires, not only the reference ones.
    */
  val TablePattern = "^rollup_(\\d+)$"
  private val tableRe = TablePattern.r

  def retentionOf(table: String): Option[Long] = table match {
    case tableRe(sec) => Some(sec.toLong)
    case _ => None
  }
}

final case class RollupDef(
    key: String,                 // the regex itself (or "default")
    method: RollupMethod,
    windows: Seq[RollupWindow]) {
  def isCatchall: Boolean = key == RollupConfig.Catchall
  /** The key compiled once per definition, so once per config. */
  @transient lazy val pattern: java.util.regex.Pattern = java.util.regex.Pattern.compile(key)
}

object RollupConfig {
  val Catchall = "default"

  private def w(windowSec: Long, retentionSec: Long) = RollupWindow(windowSec, retentionSec)

  /** The engine's reference config, as a user would write it in yaml
    * (unordered; priority is derived below exactly as the reference derives it).
    * Regexes target the path population produced by [[Tables.metrics]].
    */
  private val raw: Seq[RollupDef] = Seq(
    RollupDef("^servers\\.click\\..*",    RollupMethod.Sum,  Seq(w(60, 7200), w(3600, 604800), w(86400, 7776000))),
    RollupDef("^servers\\.error\\..*",    RollupMethod.Max,  Seq(w(60, 7200), w(3600, 604800))),
    RollupDef("^servers\\.purchase\\..*", RollupMethod.Sum,  Seq(w(300, 86400), w(3600, 2592000))),
    RollupDef("^servers\\.signup\\..*",   RollupMethod.Last, Seq(w(3600, 2592000))),
    RollupDef("^servers\\..*\\.u[0-3]$",  RollupMethod.Min,  Seq(w(3600, 604800))),
    RollupDef(Catchall,                   RollupMethod.Average,
      Seq(w(600, 86400), w(3600, 2592000), w(86400, 31536000)))
  )

  private[graft] def byPriority(defs: Seq[RollupDef]): Seq[RollupDef] = {
    val (catchall, exprs) = defs.partition(_.isCatchall)
    exprs.sortWith { (a, b) =>
      if (a.key.length != b.key.length) a.key.length > b.key.length
      else a.key < b.key
    } ++ catchall
  }

  /** Priority-ordered definitions (first match wins; catchall last). */
  val reference: Seq[RollupDef] = byPriority(raw)

  /** The post-reload config — what an operator ships on SIGHUP
    * (reference config/config_parser.go LoadRollups re-parse; the daemon
    * re-evaluates dispatch for every subsequent metric). Three realistic
    * edits relative to [[reference]]: the error-path rule is retired (its
    * paths fall through to the next match), a narrower signup rule is
    * added (longer regex, so ByPriority re-sequences it ABOVE the old
    * signup rule — the subtle reload hazard this operator exists to
    * surface), and the purchase windows are coarsened.
    */
  val reloaded: Seq[RollupDef] = byPriority(Seq(
    RollupDef("^servers\\.click\\..*",      RollupMethod.Sum,  Seq(w(60, 7200), w(3600, 604800), w(86400, 7776000))),
    RollupDef("^servers\\.purchase\\..*",   RollupMethod.Sum,  Seq(w(3600, 2592000))),
    RollupDef("^servers\\.signup\\.u[4-7]$", RollupMethod.Sum, Seq(w(300, 86400))),
    RollupDef("^servers\\.signup\\..*",     RollupMethod.Last, Seq(w(3600, 2592000))),
    RollupDef("^servers\\..*\\.u[0-3]$",    RollupMethod.Min,  Seq(w(3600, 604800))),
    RollupDef(Catchall,                     RollupMethod.Average,
      Seq(w(600, 86400), w(3600, 2592000), w(86400, 31536000)))
  ))

  /** All distinct rollup tables of a config, cassabon's `G.RollupTables`. */
  def tablesOf(config: Seq[RollupDef]): Seq[String] =
    config.flatMap(_.windows.map(_.table)).distinct.sorted

  val tables: Seq[String] = tablesOf(reference)

  /** (def, window) arms in priority order — the full write fan-out of one
    * incoming metric (reference datastore/metricstore.go:85-185).
    */
  val arms: Seq[(RollupDef, RollupWindow)] =
    reference.flatMap(d => d.windows.map(d -> _))

  /** The tiebreak key for LAST rollups: batch has no arrival order, so the
    * engine defines it as (ts, event_id) lexicographic, packed into one
    * bigint so both Spark (`max_by`) and the DuckDB oracle (`arg_max`)
    * order identically. Shift = 2^31: epoch-second ts stays < 2^32 until
    * 2106, so `ts * 2^31 + event_id` fits a signed 64-bit key for any
    * event_id < 2^31 (~2.1e9 rows/batch).
    */
  val LastKeyShift = 2147483648L

  /** Spark-side LAST key WITH the overflow guard: `assert_true` fails the
    * job loudly the moment an event_id would bleed into the ts bits and
    * silently corrupt the ordering (it returns NULL when the bound holds,
    * so the coalesce is a no-op on the happy path and the whole expression
    * stays inside whole-stage codegen). The DuckDB oracle uses the bare
    * key — it is the checker, not the checked.
    */
  val lastKeyGuarded: String =
    s"ts * $LastKeyShift + coalesce(assert_true(event_id < $LastKeyShift, " +
      s"'event_id >= $LastKeyShift overflows the LAST tiebreak key'), event_id)"
}
