package graft

import graft.streaming._
import graft.streaming.TransitionStream.Ev
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Measured state bound of the deployment presets: a 60-day replay with
  * fresh users every day runs through `userTransitions` under the real
  * `StreamDefaults.production` TTL (7 days of event time, 1 hour of
  * lateness) and under `StreamDefaults.replay` (no TTL). Arrival is
  * shuffled only within the lateness: each event arrives at its event time
  * plus a random delay under 1 hour, so no row is ever behind the
  * watermark. One micro-batch per day of arrival; after each one the
  * state store's key count is read from the query's progress. */
class StreamStatePlateauSpec extends SparkSuite {
  import spark.implicits._

  private val Days = 60
  private val UsersPerDay = 20
  private val HourUs = 3600L * 1000000
  private val DayUs = 24 * HourUs
  private val T0 = 1700000000L * 1000000 // an arbitrary UTC origin

  /** Each day's arrivals: every user of day d has a view, a click and a
    * purchase at random times of day d, and no user appears on two days. */
  private lazy val arrivals: Seq[Seq[Ev]] = {
    val rnd = new scala.util.Random(7)
    val evs = for {
      d <- 0 until Days; u <- 0 until UsersPerDay
      (t, k) <- Seq("view", "click", "purchase").zipWithIndex
    } yield {
      val uid = d.toLong * UsersPerDay + u
      Ev(uid, T0 + d * DayUs + rnd.nextLong(DayUs), uid * 3 + k, t)
    }
    val byArrival = evs.map(e => (e.ts_us + rnd.nextLong(HourUs), e))
      .groupBy { case (at, _) => ((at - T0) / DayUs).toInt }
    (0 to byArrival.keys.max).map(day =>
      rnd.shuffle(byArrival.getOrElse(day, Nil).map(_._2)))
  }

  /** The state store's key count after each day's micro-batch. */
  private def stateSeries(preset: StreamDefaults, name: String): Seq[Long] = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[Ev]
    val q = preset.userTransitions(spark, input.toDS()).toDF()
      .writeStream.format("noop").queryName(name).outputMode("update")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory(s"${name}_ck").toString)
      .start()
    try arrivals.map { day =>
      input.addData(day)
      q.processAllAvailable()
      q.lastProgress.stateOperators.head.numRowsTotal
    } finally q.stop()
  }

  test("production state plateaus over a long shuffled replay; replay state grows every day") {
    assert(arrivals.size >= Days && arrivals.flatten.size === Days * UsersPerDay * 3)
    val production = stateSeries(StreamDefaults.production, "plateau_production")
    val replay = stateSeries(StreamDefaults.replay, "plateau_replay")
    info(s"production: ${production.mkString(",")}")
    info(s"replay: ${replay.mkString(",")}")

    // replay keeps every user ever seen: one more day of users every day
    replay.sliding(2).foreach { case Seq(a, b) => assert(b > a, s"replay: $replay") }
    assert(replay.last === Days.toLong * UsersPerDay)

    // production holds at most the users of the last 9 days (7-day TTL,
    // 1-hour lateness, a key's own day, eviction one batch behind the
    // watermark) once the horizon has passed, and stops growing
    val horizon = 9
    val after = production.drop(horizon)
    assert(after.max <= (horizon * UsersPerDay).toLong, s"production: $production")
    val (early, late) = after.splitAt(after.size / 3)
    assert(late.max <= early.max, s"production state still grows: $production")
  }
}
