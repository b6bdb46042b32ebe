package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.time.LocalDate
import java.util.SplittableRandom

/** Aggregates the generator computes for one CSV day, in plain Scala,
  * independently of the engine. Only exact aggregates are kept (integer
  * sums, min/max, counts), so the engine's results must match bit for bit.
  *
  * @param csvRows    data lines (header excluded)
  * @param csvBad     lines with the wrong field count (CsvImport `bad`)
  * @param typeBad    well-formed lines with at least one unparseable typed
  *                   value (DatasetType `bad` under filterBad)
  * @param keyCounts  good rows per hashlabel key
  */
final case class DayStats(
    csvRows: Long,
    csvBad: Long,
    typeBad: Long,
    good: Long,
    sumId: Long,
    sumQty: Long,
    sumCode: Long,
    minPrice: Double,
    maxPrice: Double,
    minTs: String,
    maxTs: String,
    trueFlags: Long,
    keyCounts: Map[Int, Long],
    bytes: Long) {

  def +(o: DayStats): DayStats = DayStats(
    csvRows + o.csvRows, csvBad + o.csvBad, typeBad + o.typeBad, good + o.good,
    sumId + o.sumId, sumQty + o.sumQty, sumCode + o.sumCode,
    math.min(minPrice, o.minPrice), math.max(maxPrice, o.maxPrice),
    if (minTs <= o.minTs) minTs else o.minTs,
    if (maxTs >= o.maxTs) maxTs else o.maxTs,
    trueFlags + o.trueFlags,
    o.keyCounts.foldLeft(keyCounts) { case (m, (k, n)) => m.updated(k, m.getOrElse(k, 0L) + n) },
    bytes + o.bytes)
}

/** Seeded, single-threaded CSV day generator. The same (seed, day, rows)
  * always gives the same bytes.
  *
  * Columns and the DatasetType spec each is typed with:
  * `id` int64, `key` untyped hashlabel string (Zipf-skewed over `Keys` keys),
  * `qty` int32, `code` int64_16 (hex), `price` float64, `day` date,
  * `ts` datetime, `flag` strbool, `note` untyped string (sometimes quoted,
  * with embedded separators). About 1% of values are unparseable, and one
  * line in 2000 has an extra field.
  */
object Gen {
  val Keys = 5000
  val Header = "id,key,qty,code,price,day,ts,flag,note"
  val Types: Map[String, String] = Map(
    "id" -> "int64", "qty" -> "int32", "code" -> "int64_16",
    "price" -> "float64", "day" -> "date", "ts" -> "datetime", "flag" -> "strbool")
  val BaseDate: LocalDate = LocalDate.of(2026, 1, 1)

  def date(day: Int): String = BaseDate.plusDays(day.toLong).toString

  /** Zipf(s = 1.1) cumulative weights over key ranks 1..Keys. */
  private lazy val zipfCdf: Array[Double] = {
    val w = Array.tabulate(Keys)(i => 1.0 / math.pow(i + 1.0, 1.1))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x; acc / total }
  }

  private def zipf(r: SplittableRandom): Int = {
    val u = r.nextDouble()
    var lo = 0
    var hi = Keys - 1
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (zipfCdf(mid) < u) lo = mid + 1 else hi = mid
    }
    lo
  }

  private val words = Array("alpha", "beta", "gamma", "delta", "north", "south",
    "red", "green", "blue", "fast", "slow", "batch", "chain", "slice", "hash")

  /** Write day `day` of stream `seed` with `rows` lines to `path`. */
  def writeDay(path: Path, seed: Long, day: Int, rows: Int): DayStats = {
    val r = new SplittableRandom(seed * 1000003L + day)
    val sb = new java.lang.StringBuilder(rows * 96)
    sb.append(Header).append('\n')
    val d = date(day)
    var csvBad, typeBad, good, sumId, sumQty, sumCode, trueFlags = 0L
    var minPrice = Double.PositiveInfinity
    var maxPrice = Double.NegativeInfinity
    var minTs = "~"
    var maxTs = ""
    val keyCounts = scala.collection.mutable.HashMap.empty[Int, Long]
    var i = 0
    while (i < rows) {
      val id = day.toLong * 10000000L + i
      val key = zipf(r)
      val qty = 1 + r.nextInt(1000)
      val code = r.nextLong(1L << 40)
      val cents = r.nextLong(10000000L)
      val secs = r.nextInt(86400)
      val ts = f"$d ${secs / 3600}%02d:${secs / 60 % 60}%02d:${secs % 60}%02d"
      val flag = r.nextBoolean()
      // ~1% of rows carry one unparseable typed value
      val corrupt = if (r.nextInt(100) == 0) 1 + r.nextInt(5) else 0
      val qtyS = if (corrupt == 1) s"q$qty" else qty.toString
      val codeS = if (corrupt == 2) s"zz${java.lang.Long.toHexString(code)}" else java.lang.Long.toHexString(code)
      val priceS = if (corrupt == 3) s"${cents / 100}.${cents % 100}.5" else f"${cents / 100}.${cents % 100}%02d"
      val dayS = if (corrupt == 4) s"${d.substring(0, 5)}13-40" else d
      val tsS = if (corrupt == 5) ts.replace(' ', 'T') + "Z!" else ts
      val note = {
        val w1 = words(r.nextInt(words.length))
        val w2 = words(r.nextInt(words.length))
        if (r.nextInt(8) == 0) s""""$w1, ""$w2"" $i"""" else s"$w1 $w2 $i"
      }
      val extra = r.nextInt(2000) == 0
      sb.append(id).append(',').append('k').append(key).append(',').append(qtyS).append(',')
        .append(codeS).append(',').append(priceS).append(',').append(dayS).append(',')
        .append(tsS).append(',').append(flag).append(',').append(note)
      if (extra) sb.append(",extra")
      sb.append('\n')
      if (extra) csvBad += 1
      else if (corrupt != 0) typeBad += 1
      else {
        good += 1
        sumId += id
        sumQty += qty
        sumCode += code
        val price = priceS.toDouble
        if (price < minPrice) minPrice = price
        if (price > maxPrice) maxPrice = price
        if (ts < minTs) minTs = ts
        if (ts > maxTs) maxTs = ts
        if (flag) trueFlags += 1
        keyCounts.update(key, keyCounts.getOrElse(key, 0L) + 1)
      }
      i += 1
    }
    val bytes = sb.toString.getBytes(StandardCharsets.UTF_8)
    Files.createDirectories(path.getParent)
    Files.write(path, bytes)
    DayStats(rows.toLong, csvBad, typeBad, good, sumId, sumQty, sumCode, minPrice,
      maxPrice, minTs, maxTs, trueFlags, keyCounts.toMap, bytes.length.toLong)
  }
}
