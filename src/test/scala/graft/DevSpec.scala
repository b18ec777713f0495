package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.tools.{Corpora, Dev}
import org.scalatest.funsuite.AnyFunSuite

/** Each `tools.Dev` mode and `Verify`'s name filter, once, on sf0.001:
  * nothing else runs them, so they would otherwise rot unseen. */
class DevSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  private val d = "/root/testdata/sf0.001"

  /** The mode's printed lines, through the same parser as the main. */
  private def dev(args: String*): Seq[String] = {
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(buf)(Dev.command(args)(spark))
    buf.toString("UTF-8").linesIterator.toSeq
  }

  test("Dev time: one line per query and rep") {
    val out = dev("time", "q01_pricing_summary,q02_filter_scan", d, "2")
    val reps = out.filter(_.startsWith("TIME "))
    assert(reps.map(_.split("\\s+").take(3).mkString(" ")) == Seq(
      "TIME q01_pricing_summary rep1", "TIME q01_pricing_summary rep2",
      "TIME q02_filter_scan rep1", "TIME q02_filter_scan rep2"), out)
  }

  test("Dev profile: stages of the measured rep only, attributed by job group") {
    val out = dev("profile", "q01_pricing_summary", d)
    val head = out.find(_.startsWith("PROFILE q01_pricing_summary")).getOrElse(fail(out.mkString("\n")))
    val n = """, (\d+) stages""".r.findFirstMatchIn(head).get.group(1).toInt
    assert(n >= 1, head)
    assert(out.count(_.startsWith("PROFILE  stage=")) == math.min(n, 25))
    assert(out.exists(_.startsWith("PROFILE  total_stage_wall=")))
  }

  test("Dev ab: one line per query, the conf restored afterwards; true median") {
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    val out = dev("ab", "q02_filter_scan", key, "2", "3", "2", d)
    assert(out.count(_.startsWith(s"AB q02_filter_scan $key  A(2): min=")) == 1, out)
    assert(spark.conf.get(key) == before)
    assert(Dev.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Dev.median(Seq(3.0, 1.0, 2.0)) == 2.0)
  }

  test("Dev plan: the formatted physical plan per query") {
    val out = dev("plan", "q01_pricing_summary,q101_price_histogram", d)
    assert(out.head == "===== q01_pricing_summary")
    assert(out.contains("== Physical Plan =="), out)
    // q101 checkpoints while its frame is built: that plan is printed too
    assert(out.dropWhile(_ != "===== q101_price_histogram").contains("----- localCheckpoint"), out)
  }

  test("Dev scale: cold and warm times at 1x and Nx") {
    val out = dev("scale", "uniform", "q41_dedup_exact_groups", "2", d)
    assert(out.count(_.startsWith("SCALE uniform q41_dedup_exact_groups  1x cold")) == 1, out)
  }

  test("Corpora: N times the rows, the fixture schemas, other tables linked") {
    def shape(dir: String, t: String) =
      spark.read.parquet(s"$dir/$t.parquet").schema.map(f => f.name -> f.dataType)
    for (corpus <- Corpora.names) {
      val big = Corpora.synthesize(spark, corpus, d, 2)
      for (t <- Seq("documents", "embeddings")) {
        assert(shape(big, t) == shape(d, t), s"$corpus $t")
        val synthesized = !Files.isSymbolicLink(Paths.get(s"$big/$t.parquet"))
        val n = Tables.load(spark, d, t).count()
        assert(Tables.load(spark, big, t).count() == (if (synthesized) 2 * n else n),
          s"$corpus $t")
      }
      assert(Tables.names.forall(t => Files.exists(Paths.get(s"$big/$t.parquet"))), corpus)
    }
    assertThrows[IllegalArgumentException](Corpora.synthesize(spark, "nope", d, 2))
  }

  test("Dev rejects an unknown mode before starting a session") {
    assertThrows[IllegalArgumentException](Dev.command(Seq("nope")))
    assertThrows[IllegalArgumentException](Dev.command(Seq("ab", "q01_pricing_summary")))
  }

  test("Verify name filter: exactly the named result dirs and oracle keys") {
    val out = Files.createTempDirectory("graft_verify_filter")
    val want = Set("q01_pricing_summary", "q02_filter_scan")
    Verify.run(spark, d, out.toString, Some(want))
    val dirs = Files.list(out).iterator().asScala.filter(Files.isDirectory(_))
      .map(_.getFileName.toString).toSet
    assert(dirs == want)
    val oracle = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(out.resolve("oracle_sql.json").toFile)
    assert(oracle.fieldNames().asScala.toSet == want)
    assertThrows[IllegalArgumentException](
      Verify.run(spark, d, out.toString, Some(Set("q01_pricing_summary", "nope"))))
  }
}
