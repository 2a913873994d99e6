package graft

import java.nio.file.{Files, Path, Paths, StandardOpenOption}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.functions.{sum, udf}
import org.apache.spark.storage.StorageLevel

import graft.catalog.Warehouse
import graft.catalog.Warehouse.{ConstraintViolation, FkEdge, TableMeta}
import graft.etl.WorldCup
import graft.operators.Relational
import graft.sources.Tables

class WarehouseSpec extends SparkSpec {
  import spark.implicits._

  /** `body`'s result with the jobs it started and the input bytes its
    * tasks read (source files, and stored blocks it was served). */
  private def measured[T](body: => T): (T, Int, Long) = {
    val jobs = new AtomicInteger
    val bytes = new AtomicLong
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m => bytes.addAndGet(m.inputMetrics.bytesRead))
    }
    ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      val r = body
      ListenerBusDrain(spark.sparkContext)
      (r, jobs.get, bytes.get)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** Bytes of every stored (persisted) block in the session. */
  private def storedBytes: Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  private def tempDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def deleteRecursively(p: Path): Unit =
    Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(f => Files.delete(f))

  private def loadStar(): Unit = {
    Warehouse.clear()
    val dir = sf()
    assert(Warehouse.load(spark, Tables.load(spark, dir, "orders"),
      TableMeta("orders", pk = Seq("o_orderkey"))).isEmpty)
    // note: synthetic lineitem has NO unique (orderkey, linenumber) pair,
    // so it registers FK-only — the PK validator catching that is
    // covered by the bad-data test below
    assert(Warehouse.load(spark, Tables.load(spark, dir, "lineitem"),
      TableMeta("lineitem",
        fks = Seq(FkEdge(Seq("l_orderkey"), "orders", Seq("o_orderkey")))))
      .isEmpty)
  }

  test("load registers tables and validates PK/FK cleanly on valid data") {
    loadStar()
    assert(spark.table("lineitem").count() > 0)
  }

  test("load reports violations on bad data") {
    loadStar()
    val dupes = Seq((1L, "x"), (1L, "y"), (999999L, "z")).toDF("l_orderkey", "v")
    val viol = Warehouse.load(spark, dupes,
      TableMeta("bad_child", pk = Seq("l_orderkey"),
        fks = Seq(FkEdge(Seq("l_orderkey"), "orders", Seq("o_orderkey")))))
    assert(viol.exists(v => v.kind == "PRIMARY KEY" && v.count == 1))
    assert(viol.exists(v => v.kind == "FOREIGN KEY" && v.count >= 1))
  }

  test("preview returns LIMIT n rows") {
    loadStar()
    assert(Warehouse.preview(spark, "orders", 5).count() == 5)
  }

  test("schemaReport matches information_schema.columns shape") {
    loadStar()
    val rep = Warehouse.schemaReport(spark, "orders")
      .as[(String, Int, String, String)].collect()
    assert(rep.head == ("orders", 1, "o_orderkey", "BIGINT"))
    assert(rep.map(_._3).contains("o_orderdate"))
  }

  test("schemaDoc classifies PK/FK columns") {
    loadStar()
    val doc = Warehouse.schemaDoc(spark)
      .as[(String, Int, String, String, String)].collect()
    assert(doc.exists(r => r._1 == "orders" && r._3 == "o_orderkey" && r._5 == "PK"))
    assert(doc.exists(r => r._1 == "lineitem" && r._3 == "l_orderkey" && r._5 == "FK"))
  }

  test("ddl renders constraints") {
    loadStar()
    val composite = Seq((1L, 1, "x")).toDF("a", "b", "v")
    Warehouse.load(spark, composite,
      TableMeta("composite_t", pk = Seq("a", "b")))
    val d = Warehouse.ddl(spark, "composite_t")
    assert(d.contains("PRIMARY KEY (a, b)"))
    val dl = Warehouse.ddl(spark, "lineitem")
    assert(dl.contains("CREATE OR REPLACE TABLE lineitem"))
    assert(dl.contains("FOREIGN KEY (l_orderkey) REFERENCES orders(o_orderkey)"))
  }

  test("information_schema_columns is SQL-queryable after load") {
    loadStar()
    val got = spark.sql(
      """SELECT column_name FROM information_schema_columns
        |WHERE table_name = 'orders' AND `constraint` = 'PK'""".stripMargin)
      .as[String].collect().toSeq
    assert(got == Seq("o_orderkey"))
  }

  test("export -> import round-trips data, constraints, and schema doc") {
    loadStar()
    val composite = Seq((1L, 1, "x")).toDF("a", "b", "v")
    Warehouse.load(spark, composite,
      TableMeta("composite_t", pk = Seq("a", "b")))
    val before = Warehouse.schemaDoc(spark).collect().toSeq
    val nOrders = spark.table("orders").count()
    val out = java.nio.file.Files.createTempDirectory("graft-rt").toString
    Warehouse.exportDatabase(spark, out)
    Warehouse.clear()
    val imported = Warehouse.importDatabase(spark, out)
    assert(imported.toSet == Set("orders", "lineitem", "composite_t"))
    assert(spark.table("orders").count() == nOrders)
    assert(Warehouse.schemaDoc(spark).collect().toSeq == before)
    assert(Warehouse.meta("composite_t").get.pk == Seq("a", "b"))
    assert(Warehouse.meta("lineitem").get.fks ==
      Seq(FkEdge(Seq("l_orderkey"), "orders", Seq("o_orderkey"))))
  }

  test("exportDatabase writes parquet per table plus schema.sql") {
    loadStar()
    val out = java.nio.file.Files.createTempDirectory("graft-export").toString
    Warehouse.exportDatabase(spark, out)
    assert(spark.read.parquet(s"$out/orders.parquet").count() ==
      spark.table("orders").count())
    val sql = java.nio.file.Files.readString(java.nio.file.Paths.get(s"$out/schema.sql"))
    assert(sql.contains("CREATE OR REPLACE TABLE orders"))
  }

  test("savePartitioned lays out value directories and prunes reads") {
    val df = Seq(
      (1L, "click", 10L), (2L, "view", 20L), (3L, "click", 30L)
    ).toDF("id", "etype", "v")
    val path = Warehouse.savePartitioned(df, "wspec_part", Seq("etype"))
    val root = new java.io.File(new java.net.URI(path))
    assert(root.listFiles().map(_.getName).toSet
      .filter(_.startsWith("etype=")) == Set("etype=click", "etype=view"))
    val pruned = spark.read.parquet(path).filter($"etype" === "click")
    assert(pruned.select("id").as[Long].collect().toSet == Set(1L, 3L))
    val scan = pruned.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.head
    assert(scan.partitionFilters.nonEmpty)
  }

  test("profileQuantiles: histogram-rank envelope brackets the sketch, " +
      "exact min/max per column") {
    // 1..1000 in col a; constant 5.0 in col b (degenerate histogram)
    val df = (1 to 1000).map(i => (i.toDouble, 5.0)).toDF("a", "b")
    val got = Warehouse.profileQuantiles(df, Seq("a", "b"), Seq(0.5, 0.95))
      .orderBy("column_name")
      .as[(String, Double, Double, Boolean, Boolean)].collect().toSeq
    assert(got == Seq(
      ("a", 1.0, 1000.0, true, true),
      ("b", 5.0, 5.0, true, true)))
  }

  test("profileQuantiles: all-null and empty inputs yield no rows") {
    val df = Seq((Option.empty[Double], 1.0), (None, 2.0)).toDF("a", "b")
    val got = Warehouse.profileQuantiles(df, Seq("a", "b"), Seq(0.5))
      .orderBy("column_name")
      .as[(String, Double, Double, Boolean)].collect().toSeq
    // the all-null column has no histogram mass -> omitted
    assert(got == Seq(("b", 1.0, 2.0, true)))
    assert(Warehouse.profileQuantiles(df.limit(0), Seq("a", "b"), Seq(0.5))
      .count() == 0)
  }

  test("profile: per-column rows/nulls/exact-distinct in one pass") {
    val df = Seq(
      (1L, Some("a"), Some(1.5)),
      (2L, None, Some(1.5)),
      (3L, Some("a"), None)
    ).toDF("id", "s", "v")
    val got = Warehouse.profile(df).orderBy("column_name")
      .as[(String, String, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      ("id", "bigint", 3L, 0L, 3L),
      ("s", "string", 3L, 1L, 1L),   // countDistinct ignores NULL
      ("v", "double", 3L, 1L, 1L)))
  }

  test("a validated load computes its lineage once; the export reads no source") {
    Warehouse.clear()
    spark.catalog.clearCache()
    val dir = tempDir("graft-store")
    (0 until 40).map(i => (i.toLong, s"p$i")).toDF("id", "name")
      .write.parquet(s"$dir/parent")
    (0 until 4000).map(i => (i.toLong, (i % 40).toLong, i * 0.5))
      .toDF("id", "parent_id", "v").write.parquet(s"$dir/child")
    // the child's build counts the rows it computes, then shuffles
    val computed = spark.sparkContext.longAccumulator("child rows computed")
    val counted = udf { (id: Long) => computed.add(1); id }.asNondeterministic()
    val child = spark.read.parquet(s"$dir/child").withColumn("id", counted($"id"))
      .groupBy($"id", $"parent_id").agg(sum($"v").as("v"))
    assert(Warehouse.load(spark, spark.read.parquet(s"$dir/parent"),
      TableMeta("parent", pk = Seq("id"))).isEmpty)
    assert(Warehouse.load(spark, child, TableMeta("child", pk = Seq("id"),
      fks = Seq(FkEdge(Seq("parent_id"), "parent", Seq("id"))))).isEmpty)
    // the PK and FK checks ran, but the lineage only once
    assert(computed.value == 4000L)
    val stored = storedBytes
    assert(stored > 0)
    // every byte the export reads is a stored block, none a source
    // byte: it even succeeds once the sources are gone
    deleteRecursively(Paths.get(dir))
    val out = tempDir("graft-store-out")
    val (_, _, exportBytes) = measured(Warehouse.exportDatabase(spark, out))
    assert(exportBytes == stored)
    assert(computed.value == 4000L)
    assert(spark.read.parquet(s"$out/child.parquet").count() == 4000)
  }

  test("validate = false launches no job") {
    Warehouse.clear()
    val df = Tables.load(spark, sf(), "orders")
    val (viol, jobs, _) = measured(Warehouse.load(spark, df,
      TableMeta("orders", pk = Seq("o_orderkey")), validate = false))
    assert(viol.isEmpty)
    assert(jobs == 0)
    assert(df.storageLevel == StorageLevel.NONE)
  }

  test("clear() drops every stored table") {
    spark.catalog.clearCache()
    loadStar()
    assert(!spark.sharedState.cacheManager.isEmpty)
    Warehouse.clear()
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("re-loading a name unpersists the frame it replaces") {
    Warehouse.clear()
    val first = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    Warehouse.load(spark, first, TableMeta("reloaded", pk = Seq("id")))
    assert(first.storageLevel == StorageLevel.MEMORY_AND_DISK)
    val second = Seq((3L, "c")).toDF("id", "v")
    Warehouse.load(spark, second, TableMeta("reloaded", pk = Seq("id")))
    assert(first.storageLevel == StorageLevel.NONE)
    assert(second.storageLevel == StorageLevel.MEMORY_AND_DISK)
    assert(spark.table("reloaded").as[(Long, String)].collect().toSeq ==
      Seq((3L, "c")))
  }

  test("a cleared and re-run loadAll sees a rewritten source CSV") {
    val fixtures = Paths.get(getClass.getResource("/worldcup").toURI)
    val dir = Files.createTempDirectory("graft-wc")
    Files.list(fixtures).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".csv"))
      .foreach(f => Files.copy(f, dir.resolve(f.getFileName)))
    def ids = spark.table("confederation").select("id").as[String].collect().toSet
    Warehouse.clear()
    assert(WorldCup.loadAll(spark, dir.toString).isEmpty)
    val before = ids
    Files.writeString(dir.resolve("confederations.csv"),
      "CONF-99,TST,Test Confederation,wiki/TST\n", StandardOpenOption.APPEND)
    Warehouse.clear()
    assert(WorldCup.loadAll(spark, dir.toString).isEmpty)
    assert(!before("CONF-99"))
    assert(ids == before + "CONF-99")
    Warehouse.clear()
    deleteRecursively(dir)
  }

  test("a PK and two FKs: only the violated FK reports, with its own count") {
    Warehouse.clear()
    Warehouse.load(spark, Seq(1L, 2L).toDF("id"), TableMeta("pa", pk = Seq("id")))
    Warehouse.load(spark, Seq("x", "y").toDF("code"), TableMeta("pb", pk = Seq("code")))
    // a_id (INT) against pa.id (BIGINT) all match; b_code orphans are
    // rows 2, 3 and 5, and row 4's NULL satisfies the FK
    val child = Seq[(Long, Int, String)]((1L, 1, "x"), (2L, 2, "z"), (3L, 1, "w"),
      (4L, 2, null), (5L, 1, "z")).toDF("id", "a_id", "b_code")
    val viol = Warehouse.load(spark, child, TableMeta("c", pk = Seq("id"),
      fks = Seq(FkEdge(Seq("a_id"), "pa", Seq("id")),
        FkEdge(Seq("b_code"), "pb", Seq("code")))))
    assert(viol == Seq(ConstraintViolation("c", "FOREIGN KEY", "b_code -> pb", 3L)))
    assert(Relational.fkOrphans(child, spark.table("pb"), Seq("b_code" -> "code"))
      .count() == 3L)
  }
}
