package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

import graft.pipeline._

/** Step-boundary metadata from parquet footers: `Runner.collect`,
  * `Runner.manifest`, `/preview` and `execute`'s upstream loads take an
  * output's schema and row count from its part files' footers. They must
  * equal what Spark's own read reports (`spark.read.parquet` and
  * `count()`), and reading them must start no Spark job. */
class FooterMetadataSpec extends SparkSpec {
  import FooterMetadataSpec._

  private def sqlStep(id: String, sql: String) =
    StepSpec(id, "sql", params = Map("sql" -> sql))

  test("footer schema and rows equal Spark's read: empty, multi-part, nested, NTZ, decimal") {
    val wh = Files.createTempDirectory("graft_footer_wh").toString
    val runner = new Runner(spark, Transforms.standard(), wh)
    val spec = PipelineSpec(Seq(
      sqlStep("empty", "SELECT CAST(id AS INT) AS k, CAST(NULL AS STRING) AS s FROM range(0)"),
      sqlStep("parts", "SELECT id, id % 7 AS g FROM range(0, 1000, 1, 4)"),
      sqlStep("nested",
        "SELECT id, array(named_struct('a', id, 'b', map('k', CAST(id AS DOUBLE)))) AS arr, " +
          "map(CAST(id AS STRING), named_struct('x', array(id, id + 1))) AS m, " +
          "named_struct('p', id, 'q', array('a', NULL)) AS st FROM range(3)"),
      sqlStep("typed",
        "SELECT id, TIMESTAMP_NTZ '2024-01-02 03:04:05' + make_interval(0, 0, 0, 0, 0, 0, id) AS ntz, " +
          "TIMESTAMP '2024-01-02 03:04:05' AS ts, CAST(id AS DECIMAL(38, 10)) AS d38, " +
          "CAST(id / 3 AS DECIMAL(18, 4)) AS d18, CAST(id / 7 AS DECIMAL(9, 2)) AS d9, " +
          "DATE '2024-02-29' AS d FROM range(5)")))
    val ids = spec.steps.map(_.id)
    runner.execute(spec, ids)
    val rows = ids.map { id =>
      val dir = runner.materializedPath(spec, id).get
      assertMatchesSparkRead(spark, Paths.get(dir))
      val art = runner.collect(spec, id).get
      val read = spark.read.parquet(dir)
      assert(art.schemaDDL == read.schema.toDDL, id)
      assert(art.rows == read.count(), id)
      id -> art.rows
    }.toMap
    assert(rows == Map("empty" -> 0L, "parts" -> 1000L, "nested" -> 3L, "typed" -> 5L))
    val partFiles = Files.list(Paths.get(runner.materializedPath(spec, "parts").get))
    try assert(partFiles.iterator().asScala.count(_.getFileName.toString.startsWith("part-")) >= 3)
    finally partFiles.close()
    assert(runner.collect(spec, "typed").get.schemaDDL.contains("ntz TIMESTAMP_NTZ"))
    // manifest reads the same footer counts
    val manifest = runner.manifest(spec).collect()
      .map(r => r.getAs[String]("step_id") -> r.getAs[Long]("rows")).toMap
    assert(manifest == rows)
  }

  test("collect starts no Spark job; an edit starts none outside its own step") {
    val wh = Files.createTempDirectory("graft_footer_jobs").toString
    val runner = new Runner(spark, Transforms.standard(), wh)
    def spec(min: String) = PipelineSpec(Seq(
      StepSpec("src", "source", params = Map("dir" -> sfDir, "table" -> "nation")),
      StepSpec("leaf", "sql", Map("t" -> "src"), Map("min" -> min, "sql" ->
        "SELECT n_regionkey, count(*) AS n FROM t WHERE n_nationkey > ${min} GROUP BY 1"))))
    runner.execute(spec("-1"), Seq("leaf"))
    assert(withJobGroups(spark)(runner.collect(spec("-1"), "leaf"))._2.isEmpty)
    assert(withJobGroups(spark)(runner.collect(spec("-1"), "src"))._2.isEmpty)
    // the schema-inference job each upstream load started before it read
    // the footer schema
    val srcDir = runner.materializedPath(spec("-1"), "src").get
    assert(withJobGroups(spark)(spark.read.parquet(srcDir))._2.size == 1)
    // an edit recomputes the leaf alone, and every job it starts is the
    // leaf's own work, in the leaf's job group
    val edited = spec("0")
    val groups = withJobGroups(spark)(runner.execute(edited, Seq("leaf")))._2
    assert(groups.nonEmpty && groups.forall(_ == runner.impressionId(edited, "leaf")),
      groups)
    assert(runner.collect(edited, "leaf").get.rows == 5)
  }
}

object FooterMetadataSpec {
  import org.scalatest.Assertions._

  private val TagKey = "graft.test.jobTag"

  /** `body`'s result and the job groups of the jobs it starts on the
    * calling thread ("" for a job outside any group). A job carries the
    * local properties of the thread that starts it, so a tag set here marks
    * only these jobs. */
  def withJobGroups[A](spark: SparkSession)(body: => A): (A, Seq[String]) = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID.toString
    val groups = new ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).filter(_.getProperty(TagKey) == tag).foreach(p =>
          groups.add(Option(p.getProperty("spark.jobGroup.id")).getOrElse("")))
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty(TagKey, tag)
    val result =
      try body
      finally {
        sc.setLocalProperty(TagKey, null)
        ListenerBusAccess.drain(sc)
        sc.removeSparkListener(listener)
      }
    (result, groups.asScala.toSeq)
  }

  /** The footer schema and row count of an output dir equal the schema
    * and count of Spark's inferred read of it, and reading them starts no
    * job. */
  def assertMatchesSparkRead(spark: SparkSession, dir: Path): Unit = {
    val read = spark.read.parquet(dir.toString)
    val ((schema, rows), jobs) = withJobGroups(spark)(
      (Runner.readOutput(spark, dir).schema, Runner.footerRows(dir)))
    assert(jobs.isEmpty, s"$dir: footer read started jobs")
    assert(schema == read.schema, s"$dir: footer schema")
    assert(schema.toDDL == read.schema.toDDL, s"$dir: footer DDL")
    assert(rows == read.count(), s"$dir: footer rows")
  }
}
