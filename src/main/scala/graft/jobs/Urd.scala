package graft.jobs

import graft.core.JsonLite
import graft.core.JsonLite.quote
import java.nio.file.{Files, Paths, StandardOpenOption}
import scala.jdk.CollectionConverters._

/** Urd — the timestamped joblist registry (reference urd.py:143-360): an
  * append-only log of "sessions", each recording the joblist a build
  * produced at a caller-supplied timestamp, keyed `user/build`. Supports
  * `get/latest/first/since/truncate`; truncation ghosts entries at or after
  * the cut (they stay in the log but are no longer served — same
  * log-structured replay as the reference, logfile version 3 semantics).
  *
  * This is what makes incremental chains DRIVABLE: `buildChained` (reference
  * build.py:571-577) wires `previous` from the latest recorded session so a
  * daily append job picks up exactly where the last run stopped.
  *
  * Storage: one JSON object per line (replayed in write order). Pure
  * driver-side metadata — O(sessions) lines.
  */
final case class UrdEntry(
    key: String,
    timestamp: String,
    caption: String,
    joblist: Seq[(String, String)])

final class Urd(val path: String) {
  Files.createDirectories(Paths.get(path).getParent match {
    case null => Paths.get(".")
    case p    => p
  })
  private val file = Paths.get(path)

  // replayed state: per key, timestamp -> entry (ghosted entries removed)
  private var dbm: Map[String, Map[String, UrdEntry]] = replay()

  private def replay(): Map[String, Map[String, UrdEntry]] = {
    var state = Map.empty[String, Map[String, UrdEntry]]
    if (Files.exists(file)) {
      Files.readAllLines(file).asScala.filter(_.nonEmpty).foreach { line =>
        val v = JsonLite.parse(line).asInstanceOf[Map[String, Any]]
        v("action").toString match {
          case "add" =>
            val jl = v("joblist").asInstanceOf[Seq[Any]].map { e =>
              val p = e.asInstanceOf[Seq[Any]]
              (p(0).toString, p(1).toString)
            }
            val e = UrdEntry(v("key").toString, v("timestamp").toString,
              v.getOrElse("caption", "").toString, jl)
            state = state.updated(e.key,
              state.getOrElse(e.key, Map.empty).updated(e.timestamp, e))
          case "truncate" =>
            val key = v("key").toString
            val ts = v("timestamp").toString
            val kept = state.getOrElse(key, Map.empty)
              .filter { case (t, _) => t < ts }
            state = state.updated(key, kept)
          case other => sys.error(s"urd: unknown action $other")
        }
      }
    }
    state
  }

  private def append(line: String): Unit =
    Files.writeString(file, line + "\n",
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)

  /** Record a session (reference urd.begin/finish collapsed: our builds are
    * synchronous, so the session is recorded atomically at finish).
    */
  def add(key: String, timestamp: String, joblist: Seq[(String, String)],
          caption: String = ""): UrdEntry = {
    require(key.contains("/"), s"urd key must be user/build, got $key")
    // the whole timeline (latest/since/truncate and the monotonicity check
    // below) orders timestamps LEXICOGRAPHICALLY — only zero-padded ISO
    // prefixes or fixed-width digit strings sort chronologically; an
    // unpadded "2026-9-01" would misorder silently, so reject it here
    // (the reference normalizes to a canonical form the same way)
    require(timestamp.matches(
        "\\d{4}(-\\d{2}(-\\d{2})?)?([ T]\\d{2}(:\\d{2}(:\\d{2})?)?)?|\\d+"),
      s"urd: timestamp '$timestamp' must be zero-padded ISO " +
      "(YYYY[-MM[-DD[ HH[:MM[:SS]]]]]) or a fixed-width digit string")
    val existing = dbm.getOrElse(key, Map.empty)
    require(!existing.contains(timestamp),
      s"urd: $key already has an entry at $timestamp")
    require(existing.keys.forall(_ < timestamp),
      s"urd: $key timestamps must increase (have ${existing.keys.toSeq.sorted.lastOption}, adding $timestamp)")
    val e = UrdEntry(key, timestamp, caption, joblist)
    append(s"""{"action":"add",${entryJson(e).drop(1)}""")
    dbm = dbm.updated(key, existing.updated(timestamp, e))
    e
  }

  def get(key: String, timestamp: String): Option[UrdEntry] =
    dbm.getOrElse(key, Map.empty).get(timestamp)

  /** All keys with live (non-ghosted) entries. */
  def keys: Seq[String] =
    dbm.filter(_._2.nonEmpty).keys.toSeq.sorted

  def timestamps(key: String): Seq[String] =
    dbm.getOrElse(key, Map.empty).keys.toSeq.sorted

  def latest(key: String): Option[UrdEntry] =
    timestamps(key).lastOption.flatMap(get(key, _))

  def first(key: String): Option[UrdEntry] =
    timestamps(key).headOption.flatMap(get(key, _))

  /** Entries strictly after `timestamp` (reference `since`). */
  def since(key: String, timestamp: String): Seq[UrdEntry] =
    timestamps(key).filter(_ > timestamp).flatMap(get(key, _))

  /** Bounded lookup (reference urd.py:448-474 `limited_endpoint`): the
    * closest entry whose timestamp satisfies `op` against `timestamp` —
    * `<`/`<=` pick the LATEST such entry, `>`/`>=` the EARLIEST. The
    * reference's date-prefix rule carries over: under `<=` with a dashed
    * timestamp, an entry that merely EXTENDS the bound's date prefix
    * (2014-04-10 vs bound 2014-04) counts as within it.
    */
  def bounded(key: String, op: String, timestamp: String): Option[UrdEntry] = {
    val keep: String => Boolean = op match {
      case "<"  => _ < timestamp
      case "<=" =>
        if (timestamp.contains("-")) k => k <= timestamp || k.startsWith(timestamp)
        else k => k <= timestamp
      case ">"  => _ > timestamp
      case ">=" => _ >= timestamp
      case other => throw new IllegalArgumentException(
        s"urd bounded lookup: comparator must be one of < <= > >=, got '$other'")
    }
    val cand = timestamps(key).filter(keep)
    (if (op.startsWith("<")) cand.lastOption else cand.headOption)
      .flatMap(get(key, _))
  }

  /** Entry as the urd HTTP API's JSON shape (urd.py GET responses). */
  def entryJson(e: UrdEntry): String = {
    val jl = e.joblist.map { case (n, j) => s"[${quote(n)},${quote(j)}]" }
      .mkString("[", ",", "]")
    s"""{"key":${quote(e.key)},"timestamp":${quote(e.timestamp)},""" +
      s""""caption":${quote(e.caption)},"joblist":$jl}"""
  }

  /** Ghost all entries at or after `timestamp` (reference truncate:
    * urd.py:334-360 — entries stay in the log, replay drops them).
    */
  def truncate(key: String, timestamp: String): Unit = {
    append(s"""{"action":"truncate","key":${quote(key)},"timestamp":${quote(timestamp)}}""")
    dbm = dbm.updated(key,
      dbm.getOrElse(key, Map.empty).filter { case (t, _) => t < timestamp })
  }

  /** The `previous` wiring for incremental chains: look up `name` in the
    * latest session's joblist (reference build_chained,
    * build.py:571-577).
    */
  def previousFor(key: String, name: String): Option[String] =
    latest(key).flatMap(_.joblist.collectFirst { case (n, j) if n == name => j })
}

/** build_chained: build with `previous` auto-wired from the urd timeline. */
object BuildChained {
  def apply(runner: JobRunner, urd: Urd, urdKey: String, name: String,
            req: JobRequest, forceBuild: Boolean = false)
           (body: JobContext => Map[String, String]): JobResult = {
    require(!req.inputs.contains("previous"),
      "Don't specify previous to build_chained")
    val prev = urd.previousFor(urdKey, name).getOrElse("")
    runner.build(req.copy(inputs = req.inputs + ("previous" -> prev)),
      forceBuild)(body)
  }
}
