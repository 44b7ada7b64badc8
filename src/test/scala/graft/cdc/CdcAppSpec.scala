package graft.cdc

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.Dataset

import graft.SparkSuite

class CdcAppSpec extends SparkSuite {

  private def setup(lines: Seq[String]): CdcPaths = {
    val base = Files.createTempDirectory("graft-app").toString
    Files.createDirectories(Paths.get(s"$base/in"))
    Files.write(Paths.get(s"$base/in/b.json"), lines.mkString("\n").getBytes)
    CdcPaths(s"$base/in", s"$base/bus", s"$base/blobs", s"$base/ckpt")
  }

  private val write =
    """{"eventID":"a-1","eventName":"INSERT","dynamodb":{"SizeBytes":50,"Keys":{"pk":{"S":"U#1"},"sk":{"S":"A"}},"NewImage":{"pk":{"S":"U#1"},"sk":{"S":"A"},"v":{"N":"1"}}}}"""

  test("full app: pipeline + observer wiring end-to-end") {
    val paths = setup(Seq(write))
    val app = new CdcApp(spark,
      CdcSpec(eventSource = "app-spec", observerDir = Some(paths.busDir + "-log")), paths)
    app.start().foreach(_.awaitTermination())
    val bus = spark.read.parquet(paths.busDir)
    assert(bus.count() == 1)
    val logged = spark.read.json(paths.busDir + "-log")
    assert(logged.count() == 1)
    assert(logged.select("source").head().getString(0) == "app-spec")
  }

  test("custom transform replaces the stock handler (functionPath analogue)") {
    import spark.implicits._
    def rec(id: String, keys: String) =
      s"""{"eventID":"$id","eventName":"INSERT","dynamodb":{"SizeBytes":50,"Keys":$keys,"NewImage":{"v":{"N":"1"}}}}"""
    // every extra line carries a filter needle, so only the exact pk-text
    // residual can drop it: an S pk outside the rules, an N pk that only
    // contains one, and malformed (untagged) Keys
    val paths = setup(Seq(write,
      rec("a-n7", """{"pk":{"N":"7"}}"""),
      rec("a-n70", """{"pk":{"N":"70"}}"""),
      rec("a-s3", """{"pk":{"S":"U#3"},"sk":{"S":"U#1"}}"""),
      rec("a-bad", """{"pk":"U#1"}""")))
    val custom: Dataset[CdcRecord] => Dataset[RecordProcessor.Processed] = recs =>
      recs.map(r => RecordProcessor.Processed(ItemChanged(
        operation = "CUSTOM", pk = None, sk = None, attributesChanged = Nil,
        before = "{}", after = "{}", newImage = None, oldImage = None,
        imagesUrl = None, eventID = r.eventID.getOrElse("?")), None))
    val app = new CdcApp(spark, CdcSpec(eventSource = "app-spec", pkFilters = Seq("U#1", "7"),
      transform = Some(custom)), paths)
    app.start().foreach(_.awaitTermination())
    val bus = spark.read.parquet(paths.busDir)
    assert(bus.select("eventID").as[String].collect().sorted.toSeq == Seq("a-1", "a-n7"))
    assert(bus.select("detail").as[String].collect().forall(_.contains(""""operation":"CUSTOM"""")))
  }

  test("invalid pkFilter fails at assembly, like synth-time filter compile") {
    val paths = setup(Seq(write))
    intercept[PkFilter.InvalidPkFilterException] {
      new CdcApp(spark, CdcSpec(eventSource = "x", pkFilters = Seq("a*b*c")), paths)
    }
  }

  test("gsiViews: two configured GSIs each get an independently re-keyed view") {
    import spark.implicits._
    // one item table carrying key attributes for BOTH indexes
    // (ProjectionType.ALL: all columns ride along in each view)
    val items = Seq(
      ("b", "2", "x", "9", 1L),
      ("a", "1", "y", "3", 2L),
      ("a", "2", "x", "1", 3L))
      .toDF("g1pk", "g1sk", "g2pk", "g2sk", "v")
    val app = new CdcApp(spark,
      CdcSpec(eventSource = "x", gsiIndexNames = Seq("g1", "g2")), setup(Seq(write)))
    val views = app.gsiViews(items)
    assert(views.keySet == Set("g1", "g2"))
    // each view is sorted by ITS OWN key pair and keeps every column
    val v1 = views("g1").collect().map(r => (r.getString(0), r.getString(1)))
    assert(v1.toSeq == Seq(("a", "1"), ("a", "2"), ("b", "2")))
    val v2 = views("g2").select("g2pk", "g2sk").collect().map(r => (r.getString(0), r.getString(1)))
    assert(v2.toSeq == Seq(("x", "1"), ("x", "9"), ("y", "3")))
    assert(views("g1").columns.toSeq == items.columns.toSeq)
    // an undeclared name still fails fast
    intercept[IllegalArgumentException](app.gsiView(items, "g9"))
  }

  test("gsiView requires a declared index and re-keys the frame") {
    import spark.implicits._
    val items = Seq(("g1p", "g1s", 1), ("g1p", "g1s2", 2)).toDF("gsi1pk", "gsi1sk", "v")
    val app = new CdcApp(spark, CdcSpec(eventSource = "x", gsiIndexNames = Seq("gsi1")),
      setup(Seq(write)))
    assert(app.gsiView(items, "gsi1").collect().length == 2)
    intercept[IllegalArgumentException](app.gsiView(items, "gsi9"))
  }
}
