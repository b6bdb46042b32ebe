package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.Cols.{q => Q}
import graft.core.SnapshotStore
import java.nio.file.{Files, Paths, StandardOpenOption}

/** csvexport (reference standard_methods/a_csvexport.py:38-229): dataset →
  * CSV with custom separator, quote modes (always/lazy/off), `none_as`
  * replacement (global or per-column), label subset+ordering, and either
  * sliced output (file per partition — the scalable path) or a single
  * assembled file (driver-side concat of part files — same as the
  * reference's single-file mode which also funnels through one writer).
  */
final case class CsvExportConfig(
    separator: String = ",",
    lineSeparator: String = "\n",
    quoteMode: String = "lazy",          // always | lazy | off
    noneAs: Map[String, String] = Map.empty, // "*" = all columns
    labels: Seq[String] = Nil,           // empty = all, in schema order
    header: Boolean = true,
    sliced: Boolean = false,
    compression: String = "none",        // none | gzip
    encoding: String = "utf-8") {        // output charset; "bytes" writes
                                         // byte-preserving strings back as
                                         // their raw bytes (inverse of
                                         // CsvImportConfig.encoding="bytes")
  // every write path honours exactly these two; anything else would write
  // some outputs uncompressed and others compressed
  require(compression == "none" || compression == "gzip",
    s"csvexport: compression must be none or gzip, got $compression")
}

object CsvExport {

  /** chain_source export (reference a_csvexport.py:52,191-197: several
    * line-aligned source datasets / a chain concatenated per column into
    * ONE file): export a snapshot chain as a single CSV.
    */
  def chain(store: graft.core.SnapshotStore, name: String, path: String,
            cfg: CsvExportConfig = CsvExportConfig(), length: Int = -1): Unit =
    apply(store.iterateChain(name, length = length), path, cfg)

  /** Multi-dataset column-zip export (reference a_csvexport.py:52,191-197:
    * several line-aligned source datasets concatenated COLUMN-wise into one
    * file). The reference zips positionally; Spark has no stable positional
    * identity, so alignment is by the shared `on` column (explicit
    * rowid/lineno — SURVEY §7.4) and the output is ordered by it, which
    * reproduces the positional zip exactly. On duplicate labels the later
    * dataset wins (reference dataset-merge rule, dataset.py:329-377).
    *
    * Scale: one sort-merge/shuffle join per extra dataset on the alignment
    * key + the final range-partitioned sort — all distributed; the single
    * output file is assembled by streaming part files (same as `apply`).
    */
  def zipped(dfs: Seq[DataFrame], on: String, path: String,
             cfg: CsvExportConfig = CsvExportConfig(),
             keepOn: Boolean = false): Unit = {
    require(dfs.size >= 2, "zipped export needs at least two datasets")
    require(dfs.forall(_.columns.contains(on)), s"every dataset needs the alignment column $on")
    // Line-alignment guard: an inner join would SILENTLY drop (missing
    // keys) or fan out (duplicate keys) rows. For integral keys
    // count==distinct==n, min=0, max=n-1 proves the key set is exactly
    // {0..n-1} (the withRowId contract), making the zip exact. ALL inputs
    // are guarded in ONE union-agg job — the key columns union keyed by
    // input ordinal, one grouped agg, one collect — instead of a
    // job-per-input round-trip (the per-job overhead dominated this
    // export's cost at bench scale).
    // Mixed-but-compatible integral key widths (int vs bigint rowids) are
    // legal — widen to bigint for the union-agg and the stats compare.
    // Anything else mixed (string vs int, decimal vs double) is a caller
    // bug: fail fast rather than compare via lossy casts.
    val keyTypes = dfs.map(_.schema(on).dataType)
    val allIntegral = keyTypes.forall {
      case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType => true
      case _ => false
    }
    require(allIntegral || keyTypes.distinct.size == 1,
      s"zipped export: alignment column $on must have one type across inputs " +
        s"(or all-integral, which widen to bigint); got ${keyTypes.map(_.simpleString).distinct}")
    val statsByDs = dfs.zipWithIndex
      .map { case (d, i) => d.select(lit(i).as("__ds"),
        (if (allIntegral) Q(on).cast("bigint") else Q(on)).as("__k")) }
      .reduce(_ unionByName _)
      .groupBy(col("__ds"))
      .agg(count(lit(1)), count_distinct(col("__k")),
        min(col("__k")).cast("string"), max(col("__k")).cast("string"))
      .collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getString(3), r.getString(4)))
      .toMap
    // an empty input has no group row; its stats are (0, 0, null, null),
    // matching what a per-input agg reported
    val stats = dfs.indices.map(i =>
      statsByDs.getOrElse(i, (0L, 0L, null: String, null: String)))
    require(stats.map(_._1).distinct.size == 1,
      s"zipped export: datasets are not line-aligned: counts=${stats.map(_._1)}")
    stats.foreach { case (n, nd, _, _) =>
      require(n == nd, s"zipped export: alignment column $on has duplicates ($nd distinct of $n rows)")
    }
    if (allIntegral) stats.foreach { case (n, _, mn, mx) =>
      if (n > 0)
        require(mn.toLong == 0L && mx.toLong == n - 1,
          s"zipped export: $on must cover 0..${n - 1} (got $mn..$mx) — write inputs from withRowId")
    }
    val joined = dfs.reduce { (a, b) =>
      val dup = b.columns.toSet.intersect(a.columns.toSet) - on
      val aKeep = a.columns.filterNot(dup.contains)
      a.select(aKeep.toIndexedSeq.map(Q): _*).join(b, on)
    }
    val ordered = joined.orderBy(Q(on))
    apply(if (keepOn) ordered else ordered.drop(on), path, cfg)
  }

  /** Render one column to its CSV cell string (quote-mode aware). */
  private def cell(df: DataFrame, name: String, cfg: CsvExportConfig): Column = {
    val noneAs = cfg.noneAs.getOrElse(name, cfg.noneAs.getOrElse("*", ""))
    val sep = cfg.separator
    val q = "\""
    val base = coalesce(Q(name).cast("string"), lit(noneAs))
    cfg.quoteMode match {
      case "off" => base
      case "always" =>
        concat(lit(q), regexp_replace(base, q, q + q), lit(q))
      case "lazy" =>
        val needs = base.contains(sep) || base.contains(q) ||
          base.contains("\n") || base.contains("\r")
        when(needs, concat(lit(q), regexp_replace(base, q, q + q), lit(q)))
          .otherwise(base)
      case m => throw new IllegalArgumentException(s"quoteMode $m")
    }
  }

  /** Build the line-per-row DataFrame (single `line` string column). */
  def render(df: DataFrame, cfg: CsvExportConfig = CsvExportConfig()): DataFrame = {
    val labels = if (cfg.labels.nonEmpty) cfg.labels else df.columns.toSeq
    df.select(concat_ws(cfg.separator, labels.map(cell(df, _, cfg)): _*).as("line"))
  }

  /** Per-line encoder for the export `encoding` — the exact inverse of
    * CsvImport.lineDecoder: "bytes" maps code units ≤ 0xFF back to their
    * raw bytes (iso-8859-1, bijective — the byte-preserving import
    * contract), any other charset encodes STRICTLY. Unencodable content
    * is an error, never silent mojibake (the reference's csvexport writes
    * raw bytes and cannot corrupt, a_csvexport.py:38-229 — failing loudly
    * is our equivalent for decoded text that doesn't fit the target).
    */
  private[graft] def lineEncoder(encoding: String): String => Array[Byte] = {
    import java.nio.charset.{Charset, CodingErrorAction, StandardCharsets}
    val cs =
      if (encoding.equalsIgnoreCase("bytes")) StandardCharsets.ISO_8859_1
      else Charset.forName(encoding) // fail fast on unknown charset
    // lines are encoded independently and byte-concatenated — only
    // stateless ASCII-superset charsets survive that (utf-16 would emit a
    // BOM per line and a separator that no reader reassembles); mirrors
    // CsvImport.lineDecoder's guard on the read side
    require(java.util.Arrays.equals("A\n,0".getBytes(cs),
        "A\n,0".getBytes(StandardCharsets.US_ASCII)),
      s"csvexport: charset $encoding is not an ASCII superset — " +
      "per-line encoding would corrupt it (use utf-8, latin-1, any 8-bit " +
      "ASCII-superset charset, or encoding=\"bytes\")")
    // ONE encoder per factory call (= per partition on the write path);
    // partition iterators are single-threaded, and the convenience
    // encode(CharBuffer) resets it per line
    val enc = cs.newEncoder()
      .onMalformedInput(CodingErrorAction.REPORT)
      .onUnmappableCharacter(CodingErrorAction.REPORT)
    s => {
      try {
        val bb = enc.encode(java.nio.CharBuffer.wrap(s))
        val out = new Array[Byte](bb.remaining())
        bb.get(out)
        out
      } catch {
        case e: java.nio.charset.CharacterCodingException =>
          throw new IllegalArgumentException(
            s"csvexport: line not encodable as $encoding " +
            s"(byte-preserving data? use encoding=\"bytes\"): ${s.take(80)}", e)
      }
    }
  }

  /** Distributed raw-byte write of the rendered lines (non-UTF-8 path):
    * each line encodes per-partition and lands through a bytes-verbatim
    * Hadoop output format — same part-file layout as the text writer.
    */
  private def writeEncoded(lines: DataFrame, path: String,
                           cfg: CsvExportConfig, gzip: Boolean): Unit = {
    import org.apache.hadoop.io.{BytesWritable, NullWritable}
    val enc = cfg.encoding
    val sepBytes = lineEncoder(enc)(cfg.lineSeparator)
    val sc = lines.sparkSession.sparkContext
    val conf = new org.apache.hadoop.conf.Configuration(sc.hadoopConfiguration)
    if (gzip) {
      conf.set("mapreduce.output.fileoutputformat.compress", "true")
      conf.set("mapreduce.output.fileoutputformat.compress.codec",
        classOf[org.apache.hadoop.io.compress.GzipCodec].getName)
    }
    val target = new org.apache.hadoop.fs.Path(path)
    target.getFileSystem(conf).delete(target, true) // overwrite semantics
    lines.rdd.mapPartitions { it =>
      val encode = lineEncoder(enc)
      it.map { r =>
        val lb = encode(r.getString(0))
        val b = java.util.Arrays.copyOf(lb, lb.length + sepBytes.length)
        System.arraycopy(sepBytes, 0, b, lb.length, sepBytes.length)
        (NullWritable.get(), new BytesWritable(b))
      }
    }.saveAsNewAPIHadoopFile(path, classOf[NullWritable], classOf[BytesWritable],
      classOf[RawBytesOutputFormat], conf)
  }

  /** Write to `path` (a directory of part files when sliced, else a single
    * assembled `path` file).
    */
  def apply(df: DataFrame, path: String, cfg: CsvExportConfig = CsvExportConfig()): Unit = {
    val labels = if (cfg.labels.nonEmpty) cfg.labels else df.columns.toSeq
    // header cells quote by the SAME rules as data cells — a label
    // containing the separator, a quote, or a newline would otherwise
    // shift every subsequent header field and break re-import
    val header = labels.map { l =>
      def quoted = "\"" + l.replace("\"", "\"\"") + "\""
      cfg.quoteMode match {
        case "always" => quoted
        case "lazy" =>
          if (l.contains(cfg.separator) || l.contains("\"") ||
            l.contains("\n") || l.contains("\r")) quoted
          else l
        case _ => l
      }
    }.mkString(cfg.separator)
    val lines = render(df, cfg)
    val utf8 = cfg.encoding.equalsIgnoreCase("utf-8")
    // lineSep reaches DATA rows too (the text writer's record separator),
    // not just the header line.
    if (cfg.sliced) {
      if (utf8)
        lines.write.mode("overwrite")
          .option("compression", cfg.compression)
          .option("lineSep", cfg.lineSeparator)
          .text(path)
      else
        writeEncoded(lines, path, cfg, gzip = cfg.compression == "gzip")
      if (cfg.header) {
        // header goes into a 00-sorting sidecar, as the reference writes the
        // header once per file; part files sort after it
        Files.write(Paths.get(path, "_0_header.csv"),
          lineEncoder(cfg.encoding)(header + cfg.lineSeparator))
      }
    } else {
      // single assembled file: stream-concat the part files (constant
      // driver memory). For gzip the parts are themselves gzip streams and
      // members concatenate into a valid multi-member gzip — so the
      // assembled .gz never decompresses on the driver either.
      val gzip = cfg.compression == "gzip"
      val tmp = path + ".parts"
      if (utf8) {
        val w = lines.write.mode("overwrite").option("lineSep", cfg.lineSeparator)
        (if (gzip) w.option("compression", "gzip") else w).text(tmp)
      } else writeEncoded(lines, tmp, cfg, gzip)
      val parts = SnapshotStore.withPaths(Files.list(Paths.get(tmp)))(
        _.filter(_.getFileName.toString.startsWith("part-")).toSeq.sortBy(_.toString))
      val out = Paths.get(path)
      Files.deleteIfExists(out)
      val outCh = java.nio.channels.FileChannel.open(out,
        StandardOpenOption.CREATE, StandardOpenOption.APPEND)
      try {
        if (cfg.header) {
          val rawHdr = lineEncoder(cfg.encoding)(header + cfg.lineSeparator)
          val hdrBytes =
            if (gzip) {
              val bos = new java.io.ByteArrayOutputStream()
              val gz = new java.util.zip.GZIPOutputStream(bos)
              gz.write(rawHdr)
              gz.close()
              bos.toByteArray
            } else rawHdr
          outCh.write(java.nio.ByteBuffer.wrap(hdrBytes))
        }
        parts.foreach { p =>
          val in = java.nio.channels.FileChannel.open(p, StandardOpenOption.READ)
          try {
            var pos = 0L
            val size = in.size()
            while (pos < size) pos += in.transferTo(pos, size - pos, outCh)
          } finally in.close()
        }
      } finally outCh.close()
      // best-effort cleanup of the staging dir
      SnapshotStore.withPaths(Files.walk(Paths.get(tmp)))(
        _.toSeq.reverse.foreach(Files.deleteIfExists(_)))
    }
  }
}

/** Hadoop output format writing each BytesWritable VERBATIM (no key, no
  * added separator — the record already carries its encoded line ending).
  * Keeps the non-UTF-8 export distributed with the standard part-file
  * layout; honors the standard compress settings (gzip).
  */
final class RawBytesOutputFormat
    extends org.apache.hadoop.mapreduce.lib.output.FileOutputFormat[
      org.apache.hadoop.io.NullWritable, org.apache.hadoop.io.BytesWritable] {
  import org.apache.hadoop.io.{BytesWritable, NullWritable}
  import org.apache.hadoop.mapreduce.{RecordWriter, TaskAttemptContext}
  import org.apache.hadoop.mapreduce.lib.output.FileOutputFormat

  override def getRecordWriter(ctx: TaskAttemptContext): RecordWriter[NullWritable, BytesWritable] = {
    val conf = ctx.getConfiguration
    val (codec, ext) =
      if (FileOutputFormat.getCompressOutput(ctx)) {
        val cls = FileOutputFormat.getOutputCompressorClass(
          ctx, classOf[org.apache.hadoop.io.compress.GzipCodec])
        val c = org.apache.hadoop.util.ReflectionUtils.newInstance(cls, conf)
        (Some(c), c.getDefaultExtension)
      } else (None, "")
    val file = getDefaultWorkFile(ctx, ext)
    val raw = file.getFileSystem(conf).create(file, false)
    val out: java.io.OutputStream = codec match {
      case Some(c) => c.createOutputStream(raw)
      case None    => raw
    }
    new RecordWriter[NullWritable, BytesWritable] {
      override def write(k: NullWritable, v: BytesWritable): Unit =
        out.write(v.getBytes, 0, v.getLength)
      override def close(c: TaskAttemptContext): Unit = out.close()
    }
  }
}
