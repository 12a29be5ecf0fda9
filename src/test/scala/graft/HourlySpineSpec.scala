package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The calendar-count helpers over the staged hourly spine
  * (`Windows.hourlyCounts`, `Windows.dailyCounts`) must equal a direct
  * rollup of raw `events`, because four keys read them where their
  * oracles replay the raw rollup: win_trend_theil_sen, win_cusum,
  * dq_anomaly_volume and dq_outlier_mad.
  */
class HourlySpineSpec extends AnyFunSuite {
  import TestSpark._

  test("spine hourly and daily counts equal a direct groupBy count: " +
       "empty hour, empty day, late type, NULL type") {
    import spark.implicits._
    def ev(id: Long, day: Int, hm: String, t: String) =
      (id, java.sql.Timestamp.valueOf(f"2024-01-$day%02d $hm:00"), id % 3,
        t, 1.0, "{}")
    val rows = Seq(
      // "a": hours 00, 01, 03 on the 1st (02 is empty), nothing on the
      // 2nd (an empty day inside its span), hour 05 on the 3rd
      ev(1, 1, "00:05", "a"), ev(2, 1, "00:59", "a"), ev(3, 1, "01:30", "a"),
      ev(4, 1, "03:00", "a"), ev(5, 3, "05:10", "a"), ev(6, 3, "05:20", "a"),
      // "b" starts late: first event on the 3rd
      ev(7, 3, "04:00", "b"), ev(8, 3, "06:45", "b"),
      // NULL type: the raw GROUP BY keeps it as a group
      ev(9, 1, "01:10", null), ev(10, 1, "01:50", null),
      ev(11, 2, "10:00", null))
    val dir = java.nio.file.Files.createTempDirectory("graft_spine_")
    try {
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.parquet(s"$dir/events.parquet")
      val d = dir.toString
      val ev = Tables.events(spark, d)
      val rawHourly = ev
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hw"))
        .agg(count(lit(1)).as("n"))
      val rawDaily = ev
        .groupBy(to_date(col("ts")).as("day"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      val hourly = ops.Windows.hourlyCounts(spark, d)
      val daily = ops.Windows.dailyCounts(spark, d)
      assert(rowSet(hourly) === rowSet(rawHourly))
      assert(rowSet(daily) === rowSet(rawDaily))
      // the fixture must exercise what it claims to
      assert(rowSet(daily).contains(Seq("2024-01-01", "null", "2")),
        "the NULL type's counts must survive the spine join")
      assert(!rowSet(daily).exists(r => r(0) == "2024-01-02" && r(1) == "a"),
        "an empty day must not appear as a zero-count row")
      assert(hourly.schema === rawHourly.schema,
        "nullability included: n stays non-nullable like count's")
      assert(daily.schema === rawDaily.schema)
    } finally {
      Staging.retire(Tables.sourceFingerprint(Tables.path(dir.toString, "events")))
      Staging.deleteRecursively(dir)
    }
  }

  test("the four spine-served keys keep their output schemas") {
    def shape(k: String) = SparkEntry.queries(k)(spark, sf).schema.fields
      .map(f => s"${f.name}:${f.dataType.simpleString}:${f.nullable}")
      .mkString(",")
    assert(shape("win_trend_theil_sen") === "event_type:string:true," +
      "n_pairs:bigint:false,slope_per_day:double:true,rising:boolean:true")
    assert(shape("win_cusum") === "event_type:string:true," +
      "hr_ts:bigint:true,x:bigint:false,cusum:double:true,alarm:boolean:true")
    assert(shape("dq_anomaly_volume") === "event_type:string:true," +
      "day:timestamp:true,n:bigint:false,z:double:true," +
      "is_anomaly:boolean:true")
    assert(shape("dq_outlier_mad") === "event_type:string:true," +
      "day:timestamp:true,n:bigint:false,rz:double:true," +
      "is_outlier:boolean:true")
  }
}
