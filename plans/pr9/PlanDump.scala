// Prints the optimized logical plans of SlowQueryPipeline's three parse
// entry points over one Kibana page holding a hit of each skip class.
// Not part of the build: to regenerate a dump, copy this file into
// src/test/scala/ and run
//   sbt "Test/runMain PlanDump <workDir> <dumpFile>"
// in a fresh JVM (expression ids are allocated per JVM, so the same
// call sequence yields the same ids).
import java.nio.file.{Files, Paths}

import graft.GraftSession
import graft.analyze.SlowQueryPipeline
import graft.catalog.CqlCatalog
import graft.ingest.KibanaReader
import graft.model.{AnalysisConfig, QueryPattern}

object PlanDump {
  def main(args: Array[String]): Unit = {
    val dir = Files.createDirectories(Paths.get(args(0)))
    val slow = "WARN Query too slow, took %s ms: %s"
    val users = "[1 bound values] SELECT * FROM ks1.users WHERE user_id=?; [user_id:'u1']"
    val page = dir.resolve("page.json")
    Files.writeString(page, Seq(
        "2026-08-12T15:47:00.000000Z" -> slow.format("600", users),
        "2026-08-12T15:47:01.000000Z" -> "WARN Query too slow, and it took a while",
        "2026-08-12 15:47:02.000000Z" -> slow.format("700", users),
        "2026-08-12T15:47:03.000000Z" -> slow.format("n/a", users),
        "2026-08-12T15:47:04.000000Z" -> slow.format("800", "TRUNCATE ks1.users;"))
      .map { case (ts, msg) => s"""{"_source":{"@timestamp":"$ts","message":"$msg"}}""" }
      .mkString("""{"responses":[{"hits":{"total":5,"hits":[""", ",", "]}}]}"))
    val config = AnalysisConfig(
      schema = CqlCatalog.parse(
        "CREATE TABLE ks1.users (user_id uuid, name text, PRIMARY KEY (user_id, name));"),
      patterns = Seq(QueryPattern("SELECT name FROM users", Seq("user_id"))),
      tags = Map("appA" -> "ks3"))
    val spark = GraftSession.local(1, "plan-dump")
    spark.sparkContext.setLogLevel("ERROR")
    val raw = KibanaReader.hits(spark, Seq(page.toString))
    val dumps = Seq(
      "parseEventsObserved" -> SlowQueryPipeline.parseEventsObserved(raw, config)._1,
      "dataQuality" -> SlowQueryPipeline.dataQuality(raw, config),
      "parseEvents" -> SlowQueryPipeline.parseEvents(raw, config))
    Files.writeString(Paths.get(args(1)), dumps.map { case (name, df) =>
      s"== $name: optimized logical plan ==\n" +
        df.queryExecution.optimizedPlan.toString.trim + "\n"
    }.mkString("\n"))
    spark.stop()
  }
}
