package graft.core

import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths, Path}
import java.util.concurrent.TimeoutException
import scala.concurrent.Await
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

/** Column-BY-NAME helper: `functions.col(name)` PARSES its argument
  * (dots → struct-field access, backticks → quoting syntax), so any
  * operator that round-trips a user-provided column NAME through it
  * breaks on legal names like "a.b" or "tick`t" (the reference supports
  * arbitrary unicode names, a_test_dataset_column_names.py). Everything
  * in graft that holds a name string (not an expression) resolves it via
  * `Cols.q`, which backtick-quotes with doubling — the attribute parser's
  * escape — so the name is taken literally.
  */
object Cols {
  def q(name: String): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.col(quoted(name))
  def quoted(name: String): String = "`" + name.replace("`", "``") + "`"
}

/** Column-level metadata recorded per snapshot.
  *
  * Mirrors the reference's `DatasetColumn` (accelerator/dataset.py:116-117):
  * type tag, nullability, and per-dataset min/max zone maps (dataset.py:875-897)
  * used for chain-level dataset skipping on range iteration (dataset.py:609-614).
  * `refType` keeps the reference's logical type name (e.g. "time" stored as
  * LongType micros-since-midnight) so display/export can round-trip.
  */
case class ColumnMeta(
    name: String,
    sparkType: String,
    refType: String,
    nullable: Boolean,
    min: Option[String],
    max: Option[String])

/** Snapshot metadata — the Spark-native equivalent of the reference's pickled
  * dataset dict (accelerator/dataset.py:55-88): immutable Parquet dir +
  * sidecar. `previous` forms the append-only chain (dataset.py:428-441);
  * `hashlabel` records the column whose hash placed rows into partitions
  * (dataset.py:58); `lines` is the total row count.
  */
case class SnapshotMeta(
    name: String,
    columns: Seq[ColumnMeta],
    lines: Long,
    slices: Int,
    hashlabel: Option[String],
    previous: Option[String],
    caption: String = "",
    version: Int = 1,
    parent: Option[String] = None,
    dataDir: Option[String] = None,
    // DDL of the stored files' schema, kept for hashed snapshots so any
    // session can re-register the bucketed table (see SnapshotStore.write)
    storedSchema: Option[String] = None,
    // Artifact FORMAT stamp (r20, VERDICT r19 item 3): operators that
    // persist an index/model whose layout THEY own (line/minhash/semantic
    // indexes, BM25 chains, PQ code stores, tokenizer models, graph/walk
    // snapshots) record their format number here at write time and check
    // it through SnapshotStore.readArtifact at load — the uniform defense
    // against the r18 line-index failure class (an operator schema change
    // silently zero-matching against an old on-disk artifact). None for
    // ordinary data snapshots, whose schema IS their contract.
    formatVersion: Option[Int] = None)

final case class Snapshot(meta: SnapshotMeta, dir: String) {
  /** Raw read of THIS snapshot's stored columns (for parented snapshots
    * that's only the appended columns + rowid — use
    * SnapshotStore.readResolved for the full logical dataset).
    */
  def read(spark: SparkSession): DataFrame = spark.read.parquet(dataDir)
  /** Where this snapshot's files live: its own `data/`, or the shared
    * directory of the snapshot it links to.
    */
  def dataDir: String = meta.dataDir.getOrElse(s"$dir/data")
  def columnNames: Seq[String] = meta.columns.map(_.name)
  def minOf(col: String): Option[String] =
    meta.columns.find(_.name == col).flatMap(_.min)
  def maxOf(col: String): Option[String] =
    meta.columns.find(_.name == col).flatMap(_.max)
}

/** Content store for snapshots: one directory per snapshot containing
  * `data/` (Parquet) and `meta.json`. Replaces the reference's per-(column,
  * slice) gzip files (dataset.py:963-994) with Parquet — columnar, compressed,
  * row-group stats — and its pickled metadata with JSON.
  *
  * Scale note: the sidecar holds only O(columns) metadata; data goes through
  * `DataFrameWriter.parquet`, so a snapshot written from a 1000-executor
  * cluster is just a normal distributed Parquet write. The line count and
  * zone-map min/max are observed on the write plan (`Dataset.observe`), so
  * one Spark job writes the rows and counts them as they pass, and `df` is
  * evaluated once; they let a chain walk skip whole snapshots before any
  * scan is planned.
  *
  * `meta.json` is the commit record: a snapshot exists exactly when its
  * `meta.json` does, and every writer publishes it last, atomically
  * ([[commit]]).
  */
final class SnapshotStore(val spark: SparkSession, val root: String) {
  Files.createDirectories(Paths.get(root))

  private def dirOf(name: String): String = s"$root/$name"

  /** Write `df` as snapshot `name`.
    *
    * One Spark job: the line count and the zone maps are observed on the
    * write plan, so every row is read, typed and routed once, and the
    * job that writes the files also counts them. The metrics arrive on
    * Spark's listener bus after the write returns; if they do not arrive
    * in time the write fails and `meta.json` is not published.
    *
    * @param hashlabel   if set, rows are hash-partitioned on this column
    *                    (reference: SipHash mod slices, dsutilmodule.c:273-281;
    *                    ours: Spark Murmur3 via `repartition` — bit-layout
    *                    compat is a non-goal, co-partitioning is the point).
    */
  def write(
      df: DataFrame,
      name: String,
      hashlabel: Option[String] = None,
      previous: Option[String] = None,
      slices: Int = 0,
      refTypes: Map[String, String] = Map.empty,
      caption: String = "",
      formatVersion: Option[Int] = None,
      preRouted: Boolean = false): Snapshot = {
    val n = if (slices > 0) slices else spark.sparkContext.defaultParallelism
    // preRouted: the caller asserts df already arrives hash-clustered on
    // the hashlabel (e.g. PageRank.normalizedEdges, whose one build
    // exchange IS hashpartitioning(src)), so the routing repartition
    // would be a redundant full shuffle of the relation — at an x1000
    // edge snapshot, ~20 GB of disk held live purely to re-derive a
    // placement the rows already have. Safe even if the caller is wrong:
    // the bucketed writer computes each ROW's bucket id itself, so a
    // mis-clustered input just writes more files per bucket (and an
    // unbucketed write has no placement contract at all) — correctness
    // never depends on the assertion, only file count does.
    val routed = hashlabel match {
      case Some(h) if !preRouted => df.repartition(n, Cols.q(h))
      case _                     => df
    }
    // Lines + zone maps (comparable, non-complex types only), observed on
    // the rows the write consumes.
    val comparable = df.schema.fields.filter { f =>
      f.dataType.typeName match {
        case "binary" | "array" | "map" | "struct" => false
        case _                                     => true
      }
    }
    val aggs = count(lit(1)).as("__lines") +: comparable.flatMap { f =>
      // NaN must not poison float zone maps (Spark's max sorts NaN above
      // everything; the reference excludes NaN/None, dataset.py:875-897)
      // — UNLESS NaN is the only value, where the reference records
      // min=max=NaN (a_test_dataset_nan.py). Range skipping stays safe:
      // every comparison against a "NaN" bound is false, so such a
      // snapshot is never skipped.
      val qc = Cols.q(f.name)
      f.dataType.typeName match {
        case "double" | "float" =>
          val nonNaN = when(!isnan(qc), qc)
          val allNaN = max(when(isnan(qc), lit("NaN")))
          Seq(coalesce(min(nonNaN).cast("string"), allNaN).as(s"__min_${f.name}"),
              coalesce(max(nonNaN).cast("string"), allNaN).as(s"__max_${f.name}"))
        case _ =>
          Seq(min(qc).cast("string").as(s"__min_${f.name}"),
              max(qc).cast("string").as(s"__max_${f.name}"))
      }
    }.toSeq
    val obs = Observation()
    val observed = routed.observe(obs, aggs.head, aggs.tail: _*)
    val dir = dirOf(name)
    val dataDir = s"$dir/data"
    // A rewrite un-publishes the old snapshot before touching its data, so
    // a write that fails part-way leaves no snapshot rather than the old
    // meta.json (line count, zone maps) over new partial data.
    Files.deleteIfExists(Paths.get(dir, "meta.json"))
    metaCache.remove(name)
    // Drop any stale bucket-table registration for this data dir (rewrites).
    spark.sql(s"DROP TABLE IF EXISTS ${SnapshotStore.bucketTable(dataDir)}")
    hashlabel match {
      case Some(h) =>
        // Hashed snapshots are written as a BUCKETED datasource table so the
        // read side recovers HashPartitioning(h, n): bucket placement is
        // HashPartitioning.partitionIdExpression = pmod(murmur3(h), n) —
        // bit-identical to the repartition above, so each write task holds
        // exactly one bucket and emits one file. A downstream groupBy/join
        // on the hashlabel then plans NO Exchange — at 100 TB that is a full
        // shuffle of the largest table saved (the reference gets the same
        // effect from its sliced-by-hashlabel layout, dataset.py:58).
        val p = new org.apache.hadoop.fs.Path(dataDir)
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        fs.delete(p, true)
        observed.write.format("parquet").option("path", dataDir)
          .bucketBy(n, h).saveAsTable(SnapshotStore.bucketTable(dataDir))
      case None =>
        observed.write.mode("overwrite").parquet(dataDir)
    }
    val row = SnapshotStore.observedRow(obs, name)
    val lines = row.getLong(0)
    val mm = comparable.zipWithIndex.map { case (f, i) =>
      f.name -> (Option(row.getString(1 + 2 * i)),
                 Option(row.getString(2 + 2 * i)))
    }.toMap
    val cols = df.schema.fields.map { f =>
      val (mn, mx) = mm.getOrElse(f.name, (None, None))
      ColumnMeta(f.name, f.dataType.simpleString,
        refTypes.getOrElse(f.name, f.dataType.simpleString), f.nullable, mn, mx)
    }.toSeq
    val meta = SnapshotMeta(name, cols, lines, n, hashlabel, previous, caption,
      storedSchema = hashlabel.map(_ => routed.schema.toDDL),
      formatVersion = formatVersion)
    commit(meta)
  }

  /** Publish `meta` as its snapshot: `meta.json` is written to a temp file
    * in the snapshot directory and renamed over the old one atomically, so
    * a reader sees the old sidecar, the new one or none, never a torn one.
    */
  private def commit(meta: SnapshotMeta): Snapshot = {
    val dir = dirOf(meta.name)
    SnapshotStore.writeAtomically(Paths.get(dir, "meta.json"), MetaJson.render(meta))
    val snap = Snapshot(meta, dir)
    metaCache.put(meta.name, snap)
    snap
  }

  /** Metadata cache: snapshots are immutable, so metas are cached after
    * first read (the reference caches chain metadata in the pickle every
    * 64 links, dataset.py:943-961 — same concern: a 10k-link chain walk
    * must not do 10k file reads per resolve). Writers refresh the entry.
    */
  private val metaCache =
    new java.util.concurrent.ConcurrentHashMap[String, Snapshot]()

  def get(name: String): Snapshot =
    metaCache.computeIfAbsent(name, { n =>
      val dir = dirOf(n)
      Snapshot(MetaJson.parse(Files.readString(Paths.get(dir, "meta.json"))), dir)
    })

  def exists(name: String): Boolean =
    Files.exists(Paths.get(dirOf(name), "meta.json"))

  /** Stable per-row identity column for parent column-append alignment.
    * The reference aligns parent/child by (slice, position)
    * (dataset.py:864-941); Spark has no stable row position across reads,
    * so alignment is an explicit stored column.
    */
  val RowId = SnapshotStore.RowIdName

  /** Attach a stable rowid (see [[SnapshotStore.withPosition]]). */
  def withRowId(df: DataFrame): DataFrame = SnapshotStore.withPosition(df, RowId)

  /** Parent column-append (reference dataset.py:864-941 /
    * DatasetWriter(parent=...)): store ONLY the new columns (+rowid);
    * the parent's data is never copied. `fn` receives the parent rows
    * (including rowid) and must return rowid + the new columns.
    *
    * With `replace = true` this is the reference's copy_mode/column-reuse
    * idiom (dataset.py:537-543, 963-994, merge "later wins"
    * dataset.py:329-377): `fn` may return columns that already exist in
    * the parent — the child's version wins at read, and the parent's
    * untouched columns are STILL never rewritten. An operator that
    * transforms 2 of 30 columns stores exactly those 2.
    *
    * Read-side cost: readResolved joins child to parent on the rowid —
    * zero-copy storage like the reference, but one co-partitioned join at
    * read where the reference has per-slice positional zip (Spark has no
    * stable slice identity to zip on; the join is the honest equivalent).
    * The parent must have been written from a `withRowId` frame.
    */
  def appendColumns(parentName: String, name: String, replace: Boolean = false)
                   (fn: DataFrame => DataFrame): Snapshot = {
    val parent = get(parentName)
    require(parent.columnNames.contains(RowId),
      s"appendColumns: parent $parentName has no $RowId column (write it from withRowId(df))")
    val newCols = fn(readResolved(parentName))
    require(newCols.columns.contains(RowId),
      s"appendColumns: fn must keep the $RowId column")
    val overlap = newCols.columns.toSet.intersect(parent.columnNames.toSet) - RowId
    require(replace || overlap.isEmpty,
      s"appendColumns: columns $overlap already exist in parent (pass replace=true to shadow them)")
    val snap = write(newCols, name, slices = parent.meta.slices)
    val merged = snap.meta.copy(
      parent = Some(parentName),
      lines = parent.meta.lines,
      // a replaced hashlabel column no longer governs row placement — the
      // rows still sit where the OLD values hashed them, so claiming the
      // label would silently break the co-location invariant downstream
      hashlabel = parent.meta.hashlabel.filterNot(overlap.contains),
      columns = parent.meta.columns.filterNot(c => overlap.contains(c.name)) ++
        snap.meta.columns.filterNot(_.name == RowId))
    commit(merged)
  }

  /** link_to_here (reference dataset.py:292-327): expose an existing
    * snapshot under a new name — pure metadata, the data directory is
    * shared.
    */
  def linkToHere(target: String, name: String,
                 previous: Option[String] = None): Snapshot = {
    val t = get(target)
    Files.createDirectories(Paths.get(dirOf(name)))
    commit(t.meta.copy(name = name,
      previous = previous.orElse(t.meta.previous),
      parent = t.meta.parent,
      dataDir = Some(t.dataDir)))
  }

  /** Full logical dataset: resolves the parent chain (column-append) by
    * joining on the rowid, and applies metadata-level column filters
    * (filterColumns snapshots expose fewer columns than their shared
    * data directory stores).
    */
  def readResolved(name: String): DataFrame = readResolved(name, Set.empty)

  /** [[readResolved]] for OPERATOR-OWNED artifacts (persisted index/model
    * stores: line & minhash indexes, semantic/IVF/PQ stores, BM25 chains,
    * tokenizer models, graph/walk snapshots — see
    * [[graft.core.ArtifactFormats]]): verifies the format stamp the
    * writer recorded, on EVERY link of the `previous` chain — chains mix
    * links persisted at different times, and ONE stale link is enough to
    * zero-match a probe. A missing or mismatched stamp is the r18
    * line-index failure class (an operator layout change silently
    * misreading an old artifact), so it fails LOUDLY with a
    * rebuild-required error instead of returning data the operator will
    * misinterpret. (VERDICT r19 item 3.)
    */
  def readArtifact(name: String, expectedFormat: Int): DataFrame = {
    requireArtifactFormat(name, expectedFormat)
    readResolved(name)
  }

  /** The stamp check alone — for read paths that assemble the chain
    * themselves (the streaming sinks' `iterateChain` history reads).
    */
  def requireArtifactFormat(name: String, expectedFormat: Int): Unit =
    chain(name).foreach { s =>
      val got = s.meta.formatVersion
      if (!got.contains(expectedFormat)) throw new IllegalStateException(
        s"artifact '$name' (chain link '${s.meta.name}'): format " +
          got.map(_.toString).getOrElse("UNSTAMPED (written before format " +
            "stamping, or by a plain data write)") +
          s" does not match this engine's expected format $expectedFormat " +
          "— REBUILD REQUIRED: the persisted artifact's layout belongs to " +
          "a different engine version; delete the snapshot (or force_build " +
          "the producing job) and re-run to regenerate it")
    }

  /** Read a snapshot's stored files, recovering the hash partitioning for
    * hashed snapshots: the data was written as a bucketed datasource table
    * (see `write`), so reading through the catalog gives the scan
    * `outputPartitioning = HashPartitioning(hashlabel, slices)` and
    * downstream aggs/joins on the hashlabel plan no Exchange. Any session
    * can read: the table is re-registered from the sidecar's stored schema
    * if this session's (in-memory) catalog doesn't have it yet.
    */
  private def readStored(snap: Snapshot): DataFrame =
    (snap.meta.hashlabel, snap.meta.storedSchema) match {
      case (Some(h), Some(ddl)) =>
        val dataDir = snap.dataDir
        val tbl = SnapshotStore.bucketTable(dataDir)
        if (!spark.catalog.tableExists(tbl))
          spark.sql(s"CREATE TABLE $tbl ($ddl) USING parquet " +
            s"CLUSTERED BY (`$h`) INTO ${snap.meta.slices} BUCKETS " +
            s"LOCATION '$dataDir'")
        spark.table(tbl)
      case _ => snap.read(spark)
    }

  private def readResolved(name: String, walking: Set[String]): DataFrame = {
    require(!walking.contains(name),
      s"readResolved: parent cycle at $name (via ${walking.mkString(", ")})")
    val snap = get(name)
    val resolved = snap.meta.parent match {
      case None => readStored(snap)
      case Some(p) =>
        // child's columns shadow the parent's (copy_mode replace /
        // merge "later wins"); untouched parent columns come straight
        // from the parent's files. Resolve the parent ONCE — recursing
        // twice per level would make plan construction exponential in
        // parent-chain depth.
        val child = snap.read(spark)
        val shadowed = child.columns.toSet - RowId
        val parentDf = readResolved(p, walking + name)
        val parentKeep = parentDf.columns.filterNot(shadowed.contains)
        parentDf.select(parentKeep.toIndexedSeq.map(Cols.q): _*).join(child, RowId)
    }
    // apply the metadata column filter (filterColumns snapshots expose
    // fewer columns than the shared/joined data holds) — for parented
    // snapshots too, not just plain ones
    val want = snap.columnNames
    if (want.nonEmpty && want.toSet != resolved.columns.toSet &&
        want.forall(resolved.columns.contains))
      resolved.select(want.map(Cols.q): _*)
    else resolved
  }

  /** Walk the `previous` chain, newest first (reference Dataset.chain,
    * dataset.py:428-441). `length < 0` = whole chain.
    */
  def chain(name: String, length: Int = -1, stopAt: Option[String] = None): Seq[Snapshot] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Snapshot]
    val seen = scala.collection.mutable.HashSet.empty[String]
    var cur: Option[String] = Some(name)
    while (cur.isDefined && (length < 0 || out.size < length) &&
           !stopAt.contains(cur.get)) {
      require(seen.add(cur.get),
        s"chain: cycle detected at ${cur.get} (walk: ${out.map(_.meta.name).mkString(" -> ")})")
      val s = get(cur.get)
      out += s
      cur = s.meta.previous
    }
    out.toSeq
  }

  /** Collapse the whole chain ending at `tip` into ONE equivalent snapshot
    * `name` — the chain-maintenance job for long-lived incremental
    * pipelines. A sink appending a snapshot per micro-batch grows an
    * O(batches) chain; every consumer then pays an O(chain) metadata walk
    * and a union over thousands of small Parquet datasets, and each small
    * snapshot means small files. Compaction trades one rewrite for O(1)
    * steady-state reads.
    *
    * The compacted snapshot holds exactly the chain's rows (iterateChain,
    * oldest→newest), keeps the tip's hashlabel (hashed chains compact to
    * a bucketed table, so downstream groupBy/join on the hashlabel still
    * plans no Exchange), and has NO `previous` — it IS the whole history,
    * ready to serve as the new chain base for subsequent appends. The old
    * links are immutable and stay on disk; nothing that read the old tip
    * breaks.
    */
  def compactChain(tip: String, name: String, slices: Int = 0): Snapshot = {
    val t = get(tip)
    // a compacted ARTIFACT chain must stay an artifact: inherit the
    // format stamp when every link agrees (a mixed chain would already
    // fail requireArtifactFormat, but compaction must not be the step
    // that LAUNDERS stamps away — an unstamped compact of a stamped
    // index would make every later load fail as legacy)
    val stamps = chain(tip).map(_.meta.formatVersion).distinct
    write(iterateChain(tip), name,
      hashlabel = t.meta.hashlabel,
      previous = None,
      slices = if (slices > 0) slices else t.meta.slices,
      caption = s"compact of ${t.meta.name}",
      formatVersion = stamps match {
        case Seq(one) => one
        case _        => None
      })
  }

  /** Union a chain in chain order (oldest→newest), with optional projection
    * and a `range` filter `lo <= col < hi` that *skips whole snapshots* via
    * zone maps before any scan is planned (reference dataset.py:609-614).
    * `sloppyRange` skips the per-row post-filter and may return a superset
    * (reference dataset.py:642-643).
    *
    * @param hashlabel   require every chained snapshot to be hashed on
    *                    this column (reference dataset.py:615-622 errors
    *                    unless hashed); with `rehash` the output is
    *                    re-partitioned on it instead of erroring
    * @param preCallback invoked per snapshot before inclusion (reference
    *                    pre_callback, dataset.py:752-837); throw
    *                    `SkipDataset` to drop the snapshot,
    *                    `StopIteration` to cut the chain there
    * @param postCallback invoked per snapshot after inclusion (reference
    *                    post_callback, dataset.py:786-789,828-837 — fires
    *                    once a dataset's rows have been consumed, and not
    *                    for skipped datasets); throw `StopIteration` to cut
    *                    the chain AFTER this snapshot
    * @param sliceWindow islice-style row window over the whole chain
    *                    (reference `slice=`, dataset.py:551-596):
    *                    (start, stop), either side optional, negative
    *                    values resolved against total chain lines. Whole
    *                    snapshots outside the window are skipped from
    *                    metadata row counts alone (never scanned); at most
    *                    the two boundary snapshots pay an order+offset/limit.
    * @param orderCol    defines within-snapshot row order where the window
    *                    cuts into a snapshot (Spark has no stable positional
    *                    identity — SURVEY §7.4: order is an explicit column,
    *                    e.g. the import lineno)
    */
  def iterateChain(
      name: String,
      columns: Seq[String] = Nil,
      length: Int = -1,
      range: Option[(String, String, String)] = None,
      sloppyRange: Boolean = false,
      hashlabel: Option[String] = None,
      rehash: Boolean = false,
      preCallback: Option[Snapshot => Unit] = None,
      postCallback: Option[Snapshot => Unit] = None,
      sliceWindow: Option[(Option[Long], Option[Long])] = None,
      orderCol: Option[String] = None): DataFrame = {
    val walked = chain(name, length).reverse // oldest first
    val snapsCb =
      if (preCallback.isEmpty && postCallback.isEmpty) walked
      else {
        val out = scala.collection.mutable.ArrayBuffer.empty[Snapshot]
        var stop = false
        walked.foreach { s =>
          if (!stop) {
            var skipped = false
            preCallback.foreach { cb =>
              try cb(s)
              catch {
                case IterateControl.SkipDataset   => skipped = true
                case IterateControl.StopIteration => skipped = true; stop = true
              }
            }
            if (!skipped) {
              out += s
              postCallback.foreach { cb =>
                try cb(s)
                catch { case IterateControl.StopIteration => stop = true }
              }
            }
          }
        }
        out.toSeq
      }
    hashlabel.foreach { h =>
      if (!rehash) snapsCb.foreach { s =>
        require(s.meta.hashlabel.contains(h),
          s"iterate: snapshot ${s.meta.name} is not hashed on $h " +
          s"(has ${s.meta.hashlabel.getOrElse("none")}); pass rehash=true to repartition")
      }
    }
    if (sliceWindow.isDefined) {
      // Reference forbids negative slice offsets with range/rehash/filters
      // (dataset.py:558-562); we forbid the combination outright — a row
      // window over a filtered stream has no metadata-computable skip.
      require(range.isEmpty && !rehash,
        "sliceWindow cannot be combined with range or rehash")
      val (startOpt, stopOpt) = sliceWindow.get
      return sliceWindowed(snapsCb, columns, startOpt, stopOpt, orderCol)
    }
    val snaps0 = snapsCb
    val snaps = range match {
      case Some((c, lo, hi)) =>
        snaps0.filter { s =>
          // keep snapshot unless zone map proves it's disjoint from [lo, hi);
          // comparison is TYPED (numeric zone maps must not compare as
          // strings: "150" < "20" lexicographically) — unknown orderings
          // conservatively keep (reference compares typed values,
          // dataset.py:609-614).
          val st = s.meta.columns.find(_.name == c).map(_.sparkType).getOrElse("")
          val keep = (s.minOf(c), s.maxOf(c)) match {
            case (Some(mn), Some(mx)) =>
              (ZoneMapOrder.compare(st, mx, lo), ZoneMapOrder.compare(st, mn, hi)) match {
                case (Some(cmpMxLo), Some(cmpMnHi)) => !(cmpMxLo < 0 || cmpMnHi >= 0)
                case _                              => true
              }
            case _ => true
          }
          keep || s.meta.lines == 0
        }
      case None => snaps0.filter(_.meta.lines > 0)
    }
    require(snaps.nonEmpty || snaps0.nonEmpty, s"empty chain for $name")
    // The range column need not be in the projection (reference iterate:
    // range= and columns= are independent knobs — r14, caught by the
    // README doc-test): carry it through the per-snapshot select for the
    // row filter, then drop it. Catalyst still prunes the scan to exactly
    // what the filter + projection need.
    val extraRangeCol = range match {
      case Some((c, _, _)) if columns.nonEmpty && !columns.contains(c) =>
        Seq(c)
      case _ => Seq.empty
    }
    val dfs = (if (snaps.isEmpty) snaps0.take(1) else snaps).map { s =>
      val df = readResolved(s.meta.name) // resolves parent column-appends
      if (columns.nonEmpty) df.select((columns ++ extraRangeCol).map(Cols.q): _*)
      else df
    }
    val unioned = dfs.reduce(_.unionByName(_))
    val filtered = range match {
      case Some((c, lo, hi)) if !sloppyRange =>
        unioned.filter(Cols.q(c) >= lit(lo).cast(unioned.schema(c).dataType) &&
                       Cols.q(c) < lit(hi).cast(unioned.schema(c).dataType))
          .drop(extraRangeCol: _*)
      case _ => unioned.drop(extraRangeCol: _*)
    }
    hashlabel match {
      case Some(h) if rehash =>
        filtered.repartition(spark.sparkContext.defaultParallelism, Cols.q(h))
      case _ => filtered
    }
  }

  /** `slice=` window over a chain (reference dataset.py:551-596): resolve
    * negative offsets against total chain lines (from metadata — no scan),
    * skip whole snapshots outside [start, stop), and cut into the ≤2
    * boundary snapshots with orderBy(orderCol) + offset/limit. Overshoot is
    * an error, exactly as in the reference ("Wanted to skip N lines, but
    * only M available").
    */
  private def sliceWindowed(
      snaps: Seq[Snapshot],
      columns: Seq[String],
      startOpt: Option[Long],
      stopOpt: Option[Long],
      orderCol: Option[String]): DataFrame = {
    val total = snaps.map(_.meta.lines).sum
    var start = startOpt.getOrElse(0L)
    var stop = stopOpt.getOrElse(total)
    if (start < 0) {
      require(-start <= total, s"wanted last ${-start} lines, but only $total lines available")
      start = total + start
    }
    if (stop < 0) {
      require(-stop <= total, s"wanted to stop ${-stop} lines before end, but only $total lines available")
      stop = total + stop
    }
    require(start <= total, s"wanted to skip $start lines, but only $total lines available")
    require(stop <= total, s"wanted to stop after $stop lines, but only $total lines available")
    require(start <= stop, s"slice start $start is bigger than stop $stop")
    def project(df: DataFrame): DataFrame =
      if (columns.nonEmpty) df.select(columns.map(Cols.q): _*) else df
    var g0 = 0L
    val frames = snaps.flatMap { s =>
      val g1 = g0 + s.meta.lines
      val out =
        if (g1 <= start || g0 >= stop || s.meta.lines == 0) None // skipped from metadata alone
        else if (start <= g0 && g1 <= stop) Some(project(readResolved(s.meta.name)))
        else {
          val oc = orderCol.getOrElse(sys.error(
            s"sliceWindow cuts into snapshot ${s.meta.name}; pass orderCol " +
            "(e.g. the import lineno) to define within-snapshot row order"))
          val a = math.max(0L, start - g0)
          val b = math.min(g1, stop) - g0
          require(a <= Int.MaxValue && b <= Int.MaxValue,
            s"sliceWindow boundary offset $a..$b exceeds Int range within one snapshot")
          Some(project(readResolved(s.meta.name).orderBy(Cols.q(oc))
            .offset(a.toInt).limit((b - a).toInt)))
        }
      g0 = g1
      out
    }
    if (frames.isEmpty) {
      require(snaps.nonEmpty, "empty chain")
      project(readResolved(snaps.head.meta.name)).limit(0)
    } else frames.reduce(_.unionByName(_))
  }

  /** Metadata-only column filter (reference a_dataset_filter_columns.py —
    * "no data copy"): a new snapshot sharing the data directory, exposing
    * only the kept columns; the Parquet reader never materializes the
    * dropped ones (column pruning).
    */
  def filterColumns(target: String, name: String, keep: Seq[String]): Snapshot = {
    val t = get(target)
    val missing = keep.filterNot(t.columnNames.contains)
    require(missing.isEmpty, s"filterColumns: no such columns $missing")
    Files.createDirectories(Paths.get(dirOf(name)))
    commit(t.meta.copy(name = name,
      columns = t.meta.columns.filter(c => keep.contains(c.name)),
      hashlabel = t.meta.hashlabel.filter(keep.contains),
      dataDir = Some(t.dataDir)))
  }

  def list(): Seq[String] =
    if (!Files.exists(Paths.get(root))) Nil
    else SnapshotStore.withPaths(Files.list(Paths.get(root)))(
      _.filter(p => Files.exists(p.resolve("meta.json")))
        .map(_.getFileName.toString).toSeq.sorted)
}

object SnapshotStore {
  val RowIdName = "__rowid"

  /** Append `posCol`, each row's physical position (one extra pass;
    * indices are partition-monotone, so they capture the order the rows
    * are actually produced in — after a sort, not a window re-derivation,
    * so order bugs can't hide).
    */
  def withPosition(df: DataFrame, posCol: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val schema = StructType(df.schema.fields :+ StructField(posCol, LongType, false))
    val rdd = df.rdd.zipWithIndex().map { case (r, i) => Row.fromSeq(r.toSeq :+ i) }
    df.sparkSession.createDataFrame(rdd, schema)
  }

  /** Run `f` over a `Files.list` or `Files.walk` stream, then close it:
    * an unclosed stream holds its directory handle until GC.
    */
  private[graft] def withPaths[A](s: java.util.stream.Stream[Path])(
      f: Iterator[Path] => A): A =
    try f(s.iterator().asScala) finally s.close()

  /** Replace `path` with `text` atomically: write `<path>.tmp`, then
    * rename it over `path`. A crash leaves the old file or the new one,
    * never a truncated one.
    */
  private[graft] def writeAtomically(path: Path, text: String): Unit = {
    val tmp = Paths.get(s"$path.tmp")
    try {
      Files.writeString(tmp, text)
      Files.move(tmp, path, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    } finally Files.deleteIfExists(tmp)
  }

  /** How long a finished write waits for its observed metrics. */
  private val ObservedWait = 60.seconds

  /** The metrics `obs` observed on snapshot `name`'s write. Spark completes
    * them from a QueryExecutionListener on the asynchronous listener bus,
    * so they can land after the write returns: wait for them a bounded
    * time, never forever (`Observation.get` would block forever if they
    * never came).
    */
  private def observedRow(obs: Observation, name: String): Row =
    try Await.result(obs.future, ObservedWait)
    catch { case e: TimeoutException =>
      throw new IllegalStateException(s"snapshot '$name': the write finished " +
        s"but its line count and zone maps did not arrive within $ObservedWait; " +
        "the snapshot is not published", e)
    }

  /** Catalog table name for a hashed snapshot's bucketed data directory.
    * Keyed by the data dir (not the snapshot name) so metadata-only views
    * over shared data (linkToHere / filterColumns) reuse one registration.
    */
  def bucketTable(dataDir: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(dataDir.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString
    s"graft_b_${hex.take(16)}"
  }
}

/** Chain-iteration flow control thrown from preCallback (reference
  * SkipDataset / StopIteration, dataset.py:1554-1560).
  */
object IterateControl {
  case object SkipDataset extends scala.util.control.ControlThrowable
  case object StopIteration extends scala.util.control.ControlThrowable
}

/** Typed ordering for stringified zone-map values. Numeric Spark types
  * compare as numbers (BigDecimal — exact for any width); string, date and
  * timestamp compare lexicographically (ISO-stringified date/time order ==
  * lexicographic order); anything else has no defined ordering → None, and
  * the chain iterator keeps the snapshot (correctness over pruning).
  */
object ZoneMapOrder {
  private val numeric =
    Set("tinyint", "smallint", "int", "bigint", "float", "double")

  def compare(sparkType: String, a: String, b: String): Option[Int] =
    if (numeric.contains(sparkType) || sparkType.startsWith("decimal"))
      try Some(BigDecimal(a).compare(BigDecimal(b)))
      catch { case _: NumberFormatException => None }
    else if (sparkType == "string" || sparkType == "date" ||
             sparkType.startsWith("timestamp"))
      Some(a.compareTo(b))
    else None
}

/** Hand-rolled JSON for SnapshotMeta — keeps us dependency-free (only Spark
  * jars on the classpath) and the format trivially stable.
  */
object MetaJson {
  import JsonLite.{quote => q}
  private def opt(o: Option[String]): String = o.map(q).getOrElse("null")

  def render(m: SnapshotMeta): String = {
    val cols = m.columns.map { c =>
      s"""{"name":${q(c.name)},"sparkType":${q(c.sparkType)},"refType":${q(c.refType)},""" +
      s""""nullable":${c.nullable},"min":${opt(c.min)},"max":${opt(c.max)}}"""
    }.mkString("[", ",", "]")
    s"""{"name":${q(m.name)},"lines":${m.lines},"slices":${m.slices},""" +
    s""""hashlabel":${opt(m.hashlabel)},"previous":${opt(m.previous)},""" +
    s""""caption":${q(m.caption)},"version":${m.version},""" +
    s""""parent":${opt(m.parent)},"dataDir":${opt(m.dataDir)},""" +
    s""""storedSchema":${opt(m.storedSchema)},""" +
    s""""formatVersion":${m.formatVersion.map(_.toString).getOrElse("null")},""" +
    s""""columns":$cols}"""
  }

  // Minimal recursive-descent JSON parser (objects/arrays/strings/numbers/
  // bool/null) — enough for our own sidecars.
  def parse(s: String): SnapshotMeta = {
    val v = JsonLite.parse(s).asInstanceOf[Map[String, Any]]
    def ostr(x: Any): Option[String] = Option(x).map(_.toString)
    val cols = v("columns").asInstanceOf[Seq[Any]].map { c0 =>
      val c = c0.asInstanceOf[Map[String, Any]]
      ColumnMeta(c("name").toString, c("sparkType").toString,
        c("refType").toString, c("nullable").asInstanceOf[Boolean],
        ostr(c.getOrElse("min", null)), ostr(c.getOrElse("max", null)))
    }
    def asLong(x: Any): Long = x match {
      case l: Long => l
      case d: Double => d.toLong
      case o => o.toString.toLong
    }
    SnapshotMeta(v("name").toString, cols,
      asLong(v("lines")),
      asLong(v("slices")).toInt,
      ostr(v.getOrElse("hashlabel", null)), ostr(v.getOrElse("previous", null)),
      v.getOrElse("caption", "").toString,
      asLong(v.getOrElse("version", 1L)).toInt,
      ostr(v.getOrElse("parent", null)), ostr(v.getOrElse("dataDir", null)),
      ostr(v.getOrElse("storedSchema", null)),
      Option(v.getOrElse("formatVersion", null)).map(x => asLong(x).toInt))
  }
}

/** Tiny JSON parser; values: Map[String,Any] | Seq[Any] | String | Long
  * (integral tokens — exact up to 2^63, so row counts never round through
  * Double) | Double | Boolean | null.
  */
object JsonLite {
  def parse(s: String): Any = new P(s).value()

  /** The one JSON string writer: quotes `s`, escaping quote, backslash and
    * every control character (< 0x20) — a tab or CR left raw would make a
    * strict JSON reader (Python's json.load) reject the whole file.
    */
  def quote(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  private final class P(s: String) {
    private var i = 0
    private def ws(): Unit = while (i < s.length && s.charAt(i).isWhitespace) i += 1
    def value(): Any = { ws(); s.charAt(i) match {
      case '{' => obj()
      case '[' => arr()
      case '"' => str()
      case 't' => i += 4; true
      case 'f' => i += 5; false
      case 'n' => i += 4; null
      case _   => num()
    }}
    private def obj(): Map[String, Any] = {
      i += 1; ws()
      val m = scala.collection.mutable.LinkedHashMap.empty[String, Any]
      if (s.charAt(i) == '}') { i += 1; return m.toMap }
      while (true) {
        ws(); val k = str(); ws(); require(s.charAt(i) == ':'); i += 1
        m(k) = value(); ws()
        if (s.charAt(i) == ',') i += 1 else { require(s.charAt(i) == '}'); i += 1; return m.toMap }
      }
      m.toMap
    }
    private def arr(): Seq[Any] = {
      i += 1; ws()
      val b = scala.collection.mutable.ArrayBuffer.empty[Any]
      if (s.charAt(i) == ']') { i += 1; return b.toSeq }
      while (true) {
        b += value(); ws()
        if (s.charAt(i) == ',') i += 1 else { require(s.charAt(i) == ']'); i += 1; return b.toSeq }
      }
      b.toSeq
    }
    private def str(): String = {
      require(s.charAt(i) == '"'); i += 1
      val b = new StringBuilder
      while (s.charAt(i) != '"') {
        if (s.charAt(i) == '\\') {
          i += 1
          s.charAt(i) match {
            case 'n' => b += '\n'; case 't' => b += '\t'; case 'r' => b += '\r'
            case 'u' => b += Integer.parseInt(s.substring(i + 1, i + 5), 16).toChar; i += 4
            case c   => b += c
          }
        } else b += s.charAt(i)
        i += 1
      }
      i += 1; b.toString
    }
    private def num(): Any = {
      val start = i
      while (i < s.length && "+-0123456789.eE".indexOf(s.charAt(i)) >= 0) i += 1
      val t = s.substring(start, i)
      if (t.exists(c => c == '.' || c == 'e' || c == 'E')) t.toDouble else t.toLong
    }
  }
}
