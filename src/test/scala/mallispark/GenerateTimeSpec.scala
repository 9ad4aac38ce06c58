package mallispark

import org.apache.spark.sql.Column
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.types._
import mallispark.ir.S
import mallispark.gen.Generate

/** The instant-bearing `:time/...` generators draw the same strings as the
  * reference formulation below (pure integer arithmetic, one CASE per
  * offset pick, the local time rebuilt for every part), under any session
  * time zone. */
class GenerateTimeSpec extends SparkSuite {

  private val offsetTable: Seq[(String, Long, String)] = Seq(
    ("Z", 0L, ""),
    ("+09:00", 32400L, "[Asia/Tokyo]"),
    ("+05:30", 19800L, "[Asia/Kolkata]"),
    ("-07:00", -25200L, "[America/Phoenix]"))

  private def fmtTimeOfDay(t: Column): Column = F.concat(
    F.lpad(F.floor(t / 3600).cast(StringType), 2, "0"), F.lit(":"),
    F.lpad(F.floor((t % 3600) / 60).cast(StringType), 2, "0"), F.lit(":"),
    F.lpad((t % 60).cast(StringType), 2, "0"))

  private def referenceFmt(epoch: Column, offIdx: Column,
                           zoned: Boolean): Column = {
    def pick(f: ((String, Long, String)) => Column): Column =
      offsetTable.zipWithIndex.tail.foldLeft(f(offsetTable.head)) {
        case (acc, (row, i)) => F.when(offIdx === i, f(row)).otherwise(acc)
      }
    val local = epoch + pick(r => F.lit(r._2))
    val day = F.floor(local / F.lit(86400)).cast(LongType)
    val date = F.date_add(F.lit(java.sql.Date.valueOf("1970-01-01")),
      day.cast(IntegerType)).cast(StringType)
    val parts = Seq(date, F.lit("T"), fmtTimeOfDay(local - day * 86400),
      pick(r => F.lit(r._1))) ++
      (if (zoned) Seq(pick(r => F.lit(r._3))) else Nil)
    F.concat(parts: _*)
  }

  test("offset/zoned date-time draws equal the reference formulation in any session zone") {
    val rng = Generate.XxRng
    val id = F.col("id")
    val salt = 5
    val cases = Seq(
      // default window: 2020-01-01T00:00:00Z plus five years
      (S.zonedDateTime, 1577836800L, 1577836800L + 157766400L, true),
      (S.offsetDateTime(), 1577836800L, 1577836800L + 157766400L, false),
      (S.offsetDateTime(Some("2024-01-01T00:00:00Z"), Some("2024-06-01T00:00:00Z")),
        1704067200L, 1717200000L, false))
    val zone = spark.conf.get("spark.sql.session.timeZone")
    try Seq("UTC", "America/New_York").foreach { tz =>
      spark.conf.set("spark.sql.session.timeZone", tz)
      cases.foreach { case (sch, lo, hi, zoned) =>
        val ref = referenceFmt(F.lit(lo) + rng.rnd(id, salt, hi - lo + 1),
          rng.rnd(id, salt + 7, 4), zoned)
        val out = spark.range(200000).select(
          Generate.gen(sch, id, salt).as("g"), ref.as("r"))
        assert(out.where(!(F.col("g") <=> F.col("r"))).count() === 0L,
          s"$sch under $tz")
        assert(out.where(F.col("g").isNull).count() === 0L)
      }
    } finally spark.conf.set("spark.sql.session.timeZone", zone)
  }

  test("local date-time draws stay inside the schema's bounds in any session zone") {
    val rng = Generate.XxRng
    val id = F.col("id")
    val salt = 3
    def sec(s: String) = java.time.LocalDateTime.parse(s)
      .toEpochSecond(java.time.ZoneOffset.UTC)
    val cases = Seq(
      // default window: 2024-01-01T00:00:00 plus a year
      (S.localDateTime(), 1704067200L, 1704067200L + 31536000L),
      // a window around New York's spring-forward gap and at its edges
      (S.localDateTime(Some("2024-03-10T01:00:00"),
        Some("2024-03-10T04:00:00")),
        sec("2024-03-10T01:00:00"), sec("2024-03-10T04:00:00")))
    val zone = spark.conf.get("spark.sql.session.timeZone")
    try Seq("UTC", "America/New_York", "Asia/Tokyo").foreach { tz =>
      spark.conf.set("spark.sql.session.timeZone", tz)
      cases.foreach { case (sch, lo, hi) =>
        // the draw's wall-clock text, by integer arithmetic
        val x = F.lit(lo) + rng.rnd(id, salt, hi - lo + 1)
        val day = F.floor(x / F.lit(86400)).cast(LongType)
        val ref = F.concat(F.date_add(
          F.lit(java.sql.Date.valueOf("1970-01-01")),
          day.cast(IntegerType)).cast(StringType), F.lit(" "),
          fmtTimeOfDay(x - day * 86400))
        val out = spark.range(20000).select(
          Generate.gen(sch, id, salt).as("g"), ref.as("r"))
        assert(out.schema("g").dataType === TimestampNTZType)
        assert(out.where(!(F.col("g").cast(StringType) <=> F.col("r")))
          .count() === 0L, s"$sch under $tz")
        val validated = mallispark.compile.SchemaCompiler.validateDF(
          S.map("g" -> sch), out.select("g"), "valid")
        assert(validated.where(!F.col("valid")).count() === 0L,
          s"$sch under $tz")
      }
    } finally spark.conf.set("spark.sql.session.timeZone", zone)
  }
}
