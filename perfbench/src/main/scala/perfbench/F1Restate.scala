package perfbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{Row, SparkSession}

/** The F1 documents restated in plain Scala from the landed inputs,
  * independent of `F1Pipelines`, after a season of `rounds` rounds (the
  * standings are the last round's): each store is compared as a multiset
  * of rendered rows, nested arrays as multisets of rendered entries.
  * The standings' ingest `timestamp` is wall-clock and is left out.
  */
object F1Restate {
  type Doc = Seq[String]

  def rows(spark: SparkSession, path: String): Doc =
    spark.read.parquet(path).collect().toSeq.map(render).sorted

  private def cell(v: Any): String = v match {
    case null => "null"
    case r: Row => r.toSeq.map(cell).mkString("(", ",", ")")
    case s: scala.collection.Seq[_] => s.map(cell).sorted.mkString("[", ";", "]")
    case x => x.toString
  }

  private def render(r: Row): String =
    r.schema.fieldNames.zip(r.toSeq).filterNot(_._1 == "timestamp").map(p => cell(p._2)).mkString("|")

  private def entries(xs: Seq[Seq[Any]]): String = xs.map(_.map(cell).mkString("(", ",", ")")).sorted.mkString("[", ";", "]")

  def lapTime(ms: Any): String = ms match {
    case null => null
    case v: Long => f"${v / 60000}%02d:${v % 60000 / 1000}%02d.${v % 1000}%03d"
  }

  private def isoOf(ts: Any): String = ts match {
    case null => ""
    case t: java.time.LocalDateTime =>
      t.format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss")) + "Z"
    case t: java.sql.Timestamp =>
      t.toInstant.atZone(java.time.ZoneOffset.UTC).toLocalDateTime
        .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss")) + "Z"
  }

  def expected(laps: Array[Row], results: Array[Row], quali: Array[Row], drivers: Array[Row],
               events: Array[Row], payloads: Map[(String, Int), String], rounds: Int,
               year: Int): Map[String, Doc] = {
    def g[T](r: Row, c: String): T = r.getAs[T](c)
    def d2i(r: Row, c: String): Int = g[Double](r, c).toInt
    val byAbbr = drivers.map(d => g[String](d, "Abbreviation") -> d).toMap
    def lapsOf(rnd: Int, s: String) =
      laps.filter(l => g[Int](l, "Round") == rnd && g[String](l, "Session") == s)
    val race = (1 to rounds).map { rnd =>
      Seq(s"${year}_$rnd", s"Grand Prix $rnd", "conventional", entries(
        results.filter(g[Int](_, "Round") == rnd).toSeq.map(r => Seq(g[String](r, "TeamName"),
          g[String](r, "HeadshotUrl"), d2i(r, "Position"), g[String](r, "FullName"),
          g[String](r, "ClassifiedPosition"), d2i(r, "Points"), d2i(r, "GridPosition")))))
        .mkString("|")
    }
    val qual = (1 to rounds).map { rnd =>
      Seq(s"${year}_$rnd", s"Grand Prix $rnd", entries(
        quali.filter(g[Int](_, "Round") == rnd).toSeq.map(r => Seq(g[String](r, "FullName"),
          g[String](r, "TeamName"), g[String](r, "HeadshotUrl"), d2i(r, "Position"),
          lapTime(r.getAs[Any]("Q1")), lapTime(r.getAs[Any]("Q2")), lapTime(r.getAs[Any]("Q3"))))))
        .mkString("|")
    }
    val practice = for (rnd <- 1 to rounds; s <- Seq("Practice 1", "Practice 2", "Practice 3"))
      yield Seq(year, rnd, s, "conventional", entries(
        lapsOf(rnd, s).toSeq.filter(_.getAs[Any]("LapTime") != null).map { l =>
          val d = byAbbr.get(g[String](l, "Driver"))
          Seq(g[String](l, "Driver"), d.map(g[String](_, "HeadshotUrl")).orNull,
            g[String](l, "Compound"), lapTime(l.getAs[Any]("LapTime")), g[Double](l, "LapNumber"),
            g[Boolean](l, "IsPersonalBest"), d.map(g[String](_, "FullName")).orNull)
        })).mkString("|")
    val speeds = for (rnd <- 1 to rounds; s <- Seq("Qualifying", "Race"))
      yield Seq(year, rnd, s, "conventional", entries(
        lapsOf(rnd, s).toSeq.filterNot(g[Boolean](_, "Deleted"))
          .groupBy(g[String](_, "Driver")).toSeq
          .map { case (d, ls) => Seq(d, ls.map(g[Double](_, "SpeedST")).max) })).mkString("|")
    val schedule = events.toSeq.map { e =>
      val rnd = g[Int](e, "RoundNumber")
      (Seq(s"$rnd-$year", rnd, g[String](e, "Country"), g[String](e, "OfficialEventName"),
        g[String](e, "EventName"), g[String](e, "EventFormat"), year.toString) ++
        (1 to 5).flatMap(i => Seq(g[String](e, s"Session$i"), isoOf(e.getAs[Any](s"Session${i}DateUtc")))))
        .mkString("|")
    }
    val mapper = new ObjectMapper
    def standings(kind: String, list: String): Seq[JsonNode] =
      mapper.readTree(payloads((kind, rounds))).path("MRData").path("StandingsTable")
        .path("StandingsLists").elements().asScala.toSeq
        .flatMap(_.path(list).elements().asScala)
    def txt(n: JsonNode, default: String): String = if (n.isMissingNode || n.isNull) default else n.asText
    def int(n: JsonNode): Int = if (n.isMissingNode || n.isNull) 0 else n.asText.toInt
    val driverSt = standings("driver_standings", "DriverStandings").map { s =>
      val d = s.path("Driver")
      Seq(int(d.path("permanentNumber")), s.path("Constructors").path(0).path("name").asText,
        txt(d.path("driverId"), "Unknown"), txt(d.path("familyName"), "Unknown"),
        txt(d.path("givenName"), "Unknown"), int(s.path("points")), int(s.path("position")),
        txt(s.path("positionText"), "Unknown"), int(s.path("wins"))).mkString("|")
    }
    val consSt = standings("constructor_standings", "ConstructorStandings").map { s =>
      val c = s.path("Constructor")
      Seq(txt(c.path("constructorId"), "Unknown"), txt(c.path("name"), "Unknown"),
        int(s.path("points")), int(s.path("position")), txt(s.path("positionText"), "Unknown"),
        int(s.path("wins"))).mkString("|")
    }
    Map("raceResults" -> race, "qualifyingResults" -> qual, "practiceLaps" -> practice,
      "topSpeeds" -> speeds, "schedule" -> schedule, "driverStandings" -> driverSt,
      "constructorStandings" -> consSt).map { case (k, v) => k -> v.sorted }
  }
}
