package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.util.zip.GZIPOutputStream

import graft.model.Schemas

import org.apache.spark.sql.SparkSession

/** What one generated feed export holds, for the correctness checks. */
final case class Staged(feed: String, dir: String, rowsIn: Long, distinct: Long,
                        missingPlatform: Long, extraRows: Long)

/**
 * Seeded Unity-style NDJSON exports (gzipped, several files per feed), in
 * the wire shape `graft.model.Schemas` declares: epoch-ms `ts` and
 * `submit_time` with non-zero milliseconds, JSON objects for
 * `custom_params` and `receipt`, a 2 % share of rows replayed verbatim
 * (the export's at-least-once duplicates), and rare rows with an
 * undeclared extra field or without their `platform` field.
 *
 * Every distinct row has its own `ts` within the feed, so the number of
 * distinct natural keys is the number of distinct rows, whatever the key.
 */
object Gen {
  val ReplayShare = 0.02
  val ExtraShare = 0.004
  val MissingShare = 0.004

  private val platforms = Array("ios", "android", "webgl", "windows")
  private val names = Array("level_up", "boss_kill", "shop_open", "tutorial_step", "ad_view")
  private val currencies = Array("USD", "EUR", "GBP", "JPY")
  private val products = Array("gold_pack", "gem", "starter", "vip_month", "skin")

  /** Export of `rows` distinct rows per feed over `days` UTC days from
    * `startDay`, in `files` files per feed under `root/<feed>/`. */
  def exports(root: File, seed: Long, startDay: java.time.LocalDate, days: Int,
              rows: Int, files: Int, pool: java.util.concurrent.ExecutorService): Seq[Staged] = {
    val futures = Schemas.feeds.zipWithIndex.map { case (feed, fi) =>
      pool.submit(() => feedExport(new File(root, feed.name), feed.name,
        seed * 31 + fi, startDay, days, rows, files))
    }
    futures.map(_.get())
  }

  private def feedExport(dir: File, feed: String, seed: Long,
                         startDay: java.time.LocalDate, days: Int,
                         rows: Int, files: Int): Staged = {
    val rng = new java.util.Random(seed)
    val t0 = startDay.atStartOfDay(java.time.ZoneOffset.UTC).toInstant.toEpochMilli
    val step = days * 86400000L / rows
    var missing = 0L
    var extra = 0L
    val lines = new Array[String](rows)
    var i = 0
    while (i < rows) {
      // Strictly increasing ts, never on a whole second.
      var ts = t0 + i * step + rng.nextInt(math.max(1, (step / 2).toInt))
      if (ts % 1000 == 0) ts += 1
      val sb = new java.lang.StringBuilder(256)
      sb.append("{\"ts\": ").append(ts)
        .append(", \"submit_time\": ").append(ts + 1 + rng.nextInt(5000))
        .append(", \"userid\": \"u").append(rng.nextInt(math.max(1, rows / 8))).append('"')
        .append(", \"remote_ip\": \"10.").append(rng.nextInt(256)).append('.')
        .append(rng.nextInt(256)).append('.').append(rng.nextInt(256)).append('"')
      if (rng.nextDouble() < MissingShare) missing += 1
      else sb.append(", \"platform\": \"").append(platforms(rng.nextInt(platforms.length))).append('"')
      sb.append(", \"user_agent\": \"UnityPlayer/2022.3.").append(rng.nextInt(20))
        .append("\", \"sdk_ver\": \"u5.").append(rng.nextInt(9)).append('"')
      feed match {
        case "custom" =>
          sb.append(", \"sessionid\": ").append(1000000000L + rng.nextInt(1 << 20))
            .append(", \"name\": \"").append(names(rng.nextInt(names.length)))
            .append("\", \"custom_params\": {\"level\": ").append(rng.nextInt(60))
            .append(", \"items\": [\"sword\", \"shield\"], \"nested\": {\"a\": ")
            .append(rng.nextInt(10)).append("}}")
        case "transaction" =>
          sb.append(", \"sessionid\": ").append(1000000000L + rng.nextInt(1 << 20))
            .append(", \"currency\": \"").append(currencies(rng.nextInt(currencies.length)))
            .append("\", \"amount\": ").append(rng.nextInt(10000)).append('.')
            .append(String.format(java.util.Locale.ROOT, "%02d", Int.box(rng.nextInt(100))))
            .append(", \"transactionid\": \"t").append(seed).append('-').append(i)
            .append("\", \"productid\": \"").append(products(rng.nextInt(products.length)))
            .append("\", \"receipt\": {\"store\": \"apple\", \"sig\": \"")
            .append(Integer.toHexString(rng.nextInt())).append("\"}")
        case _ => ()
      }
      if (rng.nextDouble() < ExtraShare) {
        extra += 1
        sb.append(", \"extra_field\": {\"debug\": ").append(rng.nextInt(100)).append('}')
      }
      lines(i) = sb.append('}').toString
      i += 1
    }
    val replays = (rows * ReplayShare).toInt
    val all = lines ++ Array.fill(replays)(lines(rng.nextInt(rows)))
    // Seeded shuffle, so a replayed row usually lands in another file.
    var k = all.length - 1
    while (k > 0) {
      val j = rng.nextInt(k + 1)
      val t = all(k); all(k) = all(j); all(j) = t
      k -= 1
    }
    dir.mkdirs()
    val per = (all.length + files - 1) / files
    all.grouped(per).zipWithIndex.foreach { case (chunk, f) =>
      val w = new BufferedWriter(new OutputStreamWriter(new GZIPOutputStream(
        new FileOutputStream(new File(dir, f"export_$f%03d.json.gz")), 1 << 16),
        StandardCharsets.UTF_8), 1 << 16)
      try chunk.foreach { l => w.write(l); w.write('\n') } finally w.close()
    }
    Staged(feed, dir.getPath, all.length.toLong, rows.toLong, missing, extra)
  }

  /** A year of daily ledger rows for every feed, ending the day before
    * `firstDay`, written one row per file: the layout `Ledger.append`
    * leaves after that many appends. Returns the newest jobId per feed. */
  def seedLedger(spark: SparkSession, path: String, seed: Long,
                 firstDay: java.time.LocalDate, days: Int): Map[String, String] = {
    import spark.implicits._
    val rng = new java.util.Random(seed ^ 0x5eedL)
    val rows = for {
      d <- (1 to days).reverse
      feed <- Schemas.feeds.map(_.name)
    } yield {
      val day = firstDay.minusDays(d.toLong)
      val ts = day.atStartOfDay(java.time.ZoneOffset.UTC).toInstant.toEpochMilli +
        3600000L + rng.nextInt(3600000)
      (new java.sql.Timestamp(ts), jobId(day, feed), feed)
    }
    rows.toDF("ts", "jobId", "jobType")
      .write.mode("overwrite").option("maxRecordsPerFile", 1L).parquet(path)
    Schemas.feeds.map(f => f.name -> jobId(firstDay.minusDays(1), f.name)).toMap
  }

  def jobId(day: java.time.LocalDate, feed: String): String =
    s"d${day.toString.replace("-", "")}-$feed"
}
