package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.time.Instant
import java.util.SplittableRandom

import scala.collection.mutable

import graft.pipeline.Medallion
import graft.schema.MonzoSchemas
import graft.sources.MonzoSource
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The data engineer's scheduled pipeline run: land the day's API payload
  * (the reference's 30-day look-back, so most rows are re-sent), flatten
  * and shape it, run the atomic medallion load, read back the committed
  * gold mart.
  *
  * Set-up commits `historyDays` of transactions as version 1; each
  * operation is then the run of the next day.
  */
final class IngestDaily(spark: SparkSession, root: Path, seed: Long,
    txPerDay: Int, historyDays: Int, lookBackDays: Int) extends Workload {
  import IngestDaily._

  private val medRoot = root.resolve("medallion")
  private val landing = root.resolve("landing")
  private def med = Medallion(medRoot.toString)

  // first-fetched state of every committed transaction
  private var committedIds = 0L
  private var committedHash = 0L
  private var committedPayloadBytes = 0L
  private val spendByMonth = mutable.Map.empty[(Int, Int), Long]
  private var nextDay = 0

  /** Per-run facts the trace summary needs, keyed by operation name:
    * rows fetched, new rows, payload bytes of the new rows. */
  private val runFacts = mutable.Map.empty[String, (Long, Long, Long)]
  /** Bytes under the medallion root after the last checked run. */
  private var storedBytes = 0L

  private def rng(day: Int, i: Int, salt: Int): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + day * 1000003L + i * 31L + salt)

  /** The transaction `i` of `day` as fetched on `fetchDay`: a JSON line and
    * the fields the checks need.
    */
  private def tx(day: Int, i: Int, fetchDay: Int): Tx = {
    val r = rng(day, i, 1)
    val id = f"tx_$day%05d_$i%06d"
    val createdMs = DayZeroMs + day * DayMs + r.nextLong(DayMs)
    val spend = r.nextInt(100) < 85
    val amount = if (spend) -(100L + r.nextInt(19900)) else 1000L + r.nextInt(99000)
    val abroad = r.nextInt(10) == 0
    val settleLag = r.nextInt(3)
    val settled = if (fetchDay - day >= settleLag) Some(createdMs + settleLag * DayMs + 3600000L) else None
    val merchant = if (r.nextInt(5) == 0) None else Some(r.nextInt(Merchants))
    val counterparty = if (r.nextInt(7) == 0) None else Some(r.nextInt(Counterparties))
    val sb = new StringBuilder(640)
    sb ++= s"""{"id":"$id","description":"${merchant.map(m => s"MERCHANT $m").getOrElse("TRANSFER")}","""
    sb ++= s""""amount":$amount,"currency":"GBP","created":"${Instant.ofEpochMilli(createdMs)}","""
    sb ++= s""""category":"${Categories(r.nextInt(Categories.size))}","notes":"${if (r.nextInt(4) == 0) "split" else ""}","""
    sb ++= s""""is_load":${!spend && r.nextBoolean()},"settled":${settled.map(s => "\"" + Instant.ofEpochMilli(s) + "\"").getOrElse("null")},"""
    sb ++= s""""local_amount":${if (abroad) amount * 117 / 100 else amount},"local_currency":"${if (abroad) "EUR" else "GBP"}""""
    counterparty.foreach { c =>
      sb ++= s""","counterparty":{"name":"Counterparty $c","account_number":${10000000L + c * 7919L},"sort_code":${100000L + c * 37L}}"""
    }
    merchant.foreach { m =>
      // attributes drift: every merchant changes version every 20 days
      val v = (day + m) / 20
      val tags = (0 until (m + v) % 4).map(k => "\"" + Tags((m + v + k) % Tags.size) + "\"").mkString(",")
      sb ++= s""","merchant":{"id":"merch_$m","name":"Merchant $m v$v","category":"${Categories(m % Categories.size)}","""
      sb ++= s""""logo":"https://img.test/m$m-v$v.png","emoji":"${Emojis(m % Emojis.size)}","online":${m % 3 == 0},"atm":${m % 17 == 0},"""
      sb ++= s""""address":{"address":"${m + 1} High Street","city":"${Cities(m % Cities.size)}","postcode":"PC${m % 90 + 10} ${v % 9}AB","""
      sb ++= s""""country":"GBR","latitude":${51.0 + m * 0.001},"longitude":${-0.5 + v * 0.0001}},"""
      sb ++= s""""google_places_id":"gp_${m}_$v","suggested_tags":[$tags],"foursquare_id":"fs_$m","website":"https://m$m.test/v$v"}"""
    }
    sb += '}'
    val line = sb.result()
    Tx(id, amount, createdMs, settled, line.getBytes(UTF_8).length + 1L, line)
  }

  private def stampMs(fetchDay: Int): Long = DayZeroMs + fetchDay * DayMs + 6 * 3600000L

  /** Lands the payload fetched on `fetchDay` for days `from..fetchDay` and
    * records the first-fetched state of the ids it fetches first: all of
    * them for the history run, the day's own for a daily run.
    */
  private def land(fetchDay: Int, from: Int, history: Boolean): (Path, Long, Long, Long) = {
    val dir = landing.resolve(s"run-$fetchDay")
    Files.createDirectories(dir)
    val out = Files.newBufferedWriter(dir.resolve("transactions.json"), UTF_8)
    var fetched, fresh, freshBytes = 0L
    val stamp = stampMs(fetchDay) * 1000
    try for (day <- from to fetchDay; i <- 0 until txPerDay) {
      val t = tx(day, i, fetchDay)
      out.write(t.line); out.write('\n')
      fetched += 1
      if (history || day == fetchDay) {
        fresh += 1
        freshBytes += t.bytes
        committedHash += rowHash(t.id, t.settledMs.map(_ * 1000), stamp)
        if (t.amount < 0) {
          val z = Instant.ofEpochMilli(t.createdMs).atZone(java.time.ZoneOffset.UTC)
          spendByMonth((z.getYear, z.getMonthValue)) = spendByMonth.getOrElse((z.getYear, z.getMonthValue), 0L) - t.amount
        }
      }
    } finally out.close()
    committedIds += fresh
    committedPayloadBytes += freshBytes
    val r = rng(fetchDay, 0, 2)
    Files.writeString(dir.resolve("balance.json"),
      s"""{"balance":${r.nextLong(10000000L)},"total_balance":${r.nextLong(20000000L)},"currency":"GBP","spend_today":${-r.nextLong(50000L)}}""" + "\n")
    val pots = (0 until Pots).map { p =>
      s"""{"id":"pot_$p","style":"blue","balance":${r.nextLong(1000000L)},"currency":"GBP","type":"default",""" +
        s""""product_id":"prod_$p","current_account_id":"acc_0","cover_image_url":"https://img.test/p$p.png",""" +
        s""""round_up":${p == 0},"round_up_multiplier":${if (p == 0) 2 else 1},"created":"${Instant.ofEpochMilli(DayZeroMs + p * DayMs)}",""" +
        s""""updated":"${Instant.ofEpochMilli(stampMs(fetchDay))}","deleted":false}"""
    }
    Files.writeString(dir.resolve("pots.json"), pots.mkString("""{"pots":[""", ",", "]}") + "\n")
    (dir, fetched, fresh, freshBytes)
  }

  /** One medallion run over a landed payload; returns the committed gold rows. */
  private def runPipeline(dir: Path, fetchDay: Int): Array[Row] = {
    val api = spark.read.schema(MonzoSchemas.apiTransaction).json(dir.resolve("transactions.json").toString)
    val balance = MonzoSource.shapeBalance(spark.read.schema(BalanceSchema).json(dir.resolve("balance.json").toString))
    val pots = MonzoSource.explodePots(spark.read.schema(PotsSchema).json(dir.resolve("pots.json").toString))
    val clock = lit(new java.sql.Timestamp(stampMs(fetchDay)))
    val m = med
    m.runAtomicBatches(spark, Seq(MonzoSource.flattenTransactions(api) -> clock), balance, pots, clock)
    spark.read.parquet(m.committed(spark).get.goldMonthly).collect()
  }

  private def check(gold: Array[Row]): Option[String] = {
    val committed = med.committed(spark).get
    val b = spark.read.parquet(committed.bronzeTx)
    // the wrapping 64-bit sum of row hashes, as two overflow-free halves
    val h = xxhash64(col("id"), col("settled"), col("date_retrieved"))
    val agg = b.agg(count(lit(1)), sum(h.bitwiseAND(lit(0xFFFFFFFFL))), sum(shiftrightunsigned(h, 32))).head()
    val hashSum = agg.getLong(1) + (agg.getLong(2) << 32)
    val goldBad = gold.flatMap { r =>
      val key = (r.getAs[Int]("year"), r.getAs[Int]("month"))
      val want = spendByMonth.getOrElse(key, -1L).toDouble
      val got = r.getAs[Double]("total_spend")
      if (got != want) Some(s"gold $key total_spend $got != $want") else None
    }
    if (agg.getLong(0) != committedIds) Some(s"bronze has ${agg.getLong(0)} rows, want $committedIds distinct ids")
    else if (hashSum != committedHash) Some("bronze rows differ from the first-fetched versions")
    else if (gold.length != spendByMonth.size) Some(s"gold has ${gold.length} months, want ${spendByMonth.size}")
    else goldBad.headOption
  }

  def prepare(): Unit = {
    Files.createDirectories(root)
    committedIds = 0; committedHash = 0; committedPayloadBytes = 0
    spendByMonth.clear()
    val (dir, _, _, _) = land(historyDays - 1, 0, history = true)
    val gold = runPipeline(dir, historyDays - 1)
    check(gold).foreach(f => sys.error(s"history commit failed its check: $f"))
    nextDay = historyDays
  }

  def pass(i: Int): Seq[Op] = {
    val day = nextDay
    val name = s"run day $day"
    var dir: Path = null
    Seq(Op(name, kind = "daily run",
      before = () => {
        val (d, fetched, fresh, freshBytes) = land(day, day - lookBackDays + 1, history = false)
        dir = d
        nextDay = day + 1
        runFacts(name) = (fetched, fresh, freshBytes)
      },
      run = () => runPipeline(dir, day),
      check = g => {
        storedBytes = Bytes.under(medRoot)
        check(g.asInstanceOf[Array[Row]])
      }))
  }

  override def layerMetrics(traced: Seq[OpRecord]): Map[String, Double] = {
    val facts = traced.flatMap(r => runFacts.get(r.name).map(r -> _))
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    // seconds covered by the run's jobs whose description starts with any of `ps`
    def desc(r: OpRecord, ps: String*): Double = r.trace.fold(0.0)(t => Tracer.unionMs(
      t.jobIntervals.collect { case (d, iv) if ps.exists(d.startsWith) => iv }.flatten.toVector) / 1e3)
    Map(
      "pipeline.stage_bronze_s" -> mean(traced.map(desc(_, "medallion: stage bronze"))),
      "pipeline.stage_snapshots_s" -> mean(traced.map(desc(_, "medallion: stage balance", "medallion: stage pots"))),
      "pipeline.silver_s" -> mean(traced.map(desc(_, "medallion: silver"))),
      "pipeline.gold_commit_s" -> mean(traced.map(r => r.wallS - desc(r, "medallion: "))),
      "pipeline.useful_row_frac" -> facts.map(_._2._2).sum.toDouble / math.max(1L, facts.map(_._2._1).sum),
      "pipeline.bytes_written_per_new_byte" -> mean(facts.map { case (r, (_, _, nb)) =>
        r.trace.map(_.counts.getOrElse("output_bytes", 0.0)).getOrElse(0.0) / math.max(1L, nb) }),
      "pipeline.stored_bytes" -> storedBytes.toDouble,
      "pipeline.stored_bytes_per_user_byte" -> storedBytes.toDouble / math.max(1L, committedPayloadBytes))
  }
}

object IngestDaily {
  /** The pipeline layer's metrics; other workloads report them as 0. */
  val LayerKeys: Seq[String] = Seq("pipeline.stage_bronze_s", "pipeline.stage_snapshots_s",
    "pipeline.silver_s", "pipeline.gold_commit_s", "pipeline.useful_row_frac",
    "pipeline.bytes_written_per_new_byte", "pipeline.stored_bytes", "pipeline.stored_bytes_per_user_byte")

  private val DayZeroMs = Instant.parse("2024-01-01T00:00:00Z").toEpochMilli
  private val DayMs = 86400000L
  private val Merchants = 400
  private val Counterparties = 250
  private val Pots = 5
  private val Categories = Seq("groceries", "eating_out", "transport", "shopping", "bills",
    "entertainment", "general", "holidays")
  private val Tags = Seq("#coffee", "#lunch", "#commute", "#weekly", "#treat", "#work", "#home")
  private val Emojis = Seq("☕", "🍔", "🚆", "🛒", "💡")
  private val Cities = Seq("London", "Leeds", "Bristol", "Cardiff", "Glasgow", "York")

  private final case class Tx(id: String, amount: Long, createdMs: Long, settledMs: Option[Long],
      bytes: Long, line: String)

  private val BalanceSchema = "balance long, total_balance long, currency string, spend_today long"

  private val PotsSchema = StructType(Seq(StructField("pots", ArrayType(StructType(
    MonzoSchemas.bronzePots.fields.filterNot(_.name == "date_retrieved").toSeq)))))

  /** Spark's `xxhash64(id, settled, date_retrieved)` for one bronze row
    * (timestamps in microseconds; a null column leaves the hash unchanged).
    */
  private def rowHash(id: String, settledUs: Option[Long], stampUs: Long): Long = {
    val u = UTF8String.fromString(id)
    var h = XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes, 42L)
    settledUs.foreach(s => h = XXH64.hashLong(s, h))
    XXH64.hashLong(stampUs, h)
  }
}
