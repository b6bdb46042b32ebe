package graft.core

import org.apache.spark.sql.SparkSession

/** Engine-wide SparkSession tuning shared by every entry point (Bench,
  * Verify, PlanDump, ScaleCheck, Shell, ProfileFuzz, tests). Centralized so
  * a measured fix lands everywhere at once.
  */
object SessionTuning {

  /** HotSpot refuses to JIT-compile any method over 8000 bytecodes
    * (-XX:DontCompileHugeMethods, on by default) — it runs INTERPRETED
    * forever. Spark's whole-stage codegen only abandons a generated
    * method above spark.sql.codegen.hugeMethodLimit, whose default
    * (65535) is far past the JIT cliff: a wide projection of inlined
    * expressions lands in the 8k-64k gap and runs 2-3x slower than the
    * non-codegen fallback. It was found on the typing pass when each
    * spec was a regex/cast/CaseWhen composition: op_type_fuzz at sf0.1
    * (graft.tools.ProfileFuzz) took 40.4s with the default and 9.3s with
    * the limit at 8000 (Spark falls back to per-operator eval, which
    * JITs fine). The hot specs are now one kernel call each
    * ([[graft.expr.ParseFunctions]]), which keeps that method small, but
    * other wide projections (regex text filters, media decoders) still
    * rely on the limit. Aligning it with the JIT's is the documented
    * production remedy (SPARK-21871 discussion).
    */
  val HugeMethodLimit = 8000

  /** The local session every entry point builds: `local[cpus]` with one
    * shuffle partition per core, UTC session time, nanosecond parquet
    * timestamps read as longs and no UI, on top of [[tune]]. Callers add
    * what is theirs alone (an app name, a codec, a master override).
    */
  def local(cpus: Int): SparkSession.Builder =
    tune(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false"))

  def tune(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.sql.codegen.hugeMethodLimit", HugeMethodLimit.toString)
      // local files get their permission bits in process, not by a forked
      // chmod per created file and directory ([[PosixLocalFileSystem]])
      .config("spark.hadoop.fs.file.impl", classOf[PosixLocalFileSystem].getName)
      // A Union of co-bucketed scans must not report its children's hash
      // partitioning: with the Spark 4.1 default (true) a group-by on the
      // hashlabel over an unfiltered multi-link iterateChain plans no
      // Exchange and returns one group per link (two 100-key snapshots
      // counted 200 groups). Off, the aggregate gets the Exchange it
      // needs; single-snapshot reads keep their exchange-free bucketed
      // plans (SnapshotSpec).
      .config("spark.sql.unionOutputPartitioning", "false")
      // Shuffled-hash joins come from the AQE runtime rewrite ONLY (the
      // threshold below), not from the static planner. r20 additionally
      // set spark.sql.join.preferSortMergeJoin=false, which makes the
      // STATIC planner pick SHJ from ESTIMATED plan stats; SHJ's
      // HashedRelation build cannot spill and AQE never demotes a
      // statically-chosen SHJ back to SMJ, so one bad post-filter
      // cardinality estimate at production scale converts a spillable
      // sort-merge join into an executor OOM (ADVICE r20, medium).
      // Removed in r21: the AQE path below converts from MEASURED
      // map-output sizes, which is the only scale-safe trigger; measured
      // at sf0.1 (r21 A/B over the 11-query r20 SHJ set) the set total is
      // unchanged within noise.
      //
      // AQE runtime SMJ→SHJ rewrite: convert when every post-shuffle
      // partition of the build side is under 64 MB (default 0 = off).
      // DORMANT at every measured scale: none of the 15 committed
      // post-AQE executed plans (plans/r21/*_aqe_after.txt, the r20 SHJ
      // set) contains a ShuffledHashJoin — AQE turns those joins into
      // broadcasts or keeps them sort-merge — so the setting changes no
      // measured plan. It stays as the scale-safe way to get SHJ: at
      // production partition sizing (guide §2.2, 100 MB-1 GB advisory) it
      // converts only genuinely hashable builds, and an over-threshold
      // build side stays SMJ and spills exactly as before.
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
        (64L * 1024 * 1024).toString)
}
