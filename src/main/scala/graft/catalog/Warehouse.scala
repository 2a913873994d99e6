package graft.catalog

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.operators.Relational

/** The product's catalog surface — the analog of the reference's DuckDB
  * database lifecycle (SURVEY.md §2.1 S5-S9 and §2.6 Q1-Q3):
  *
  *  - table registration with PK/FK metadata (DDL constraints are
  *    informational in Spark; enforcement happens at load time via
  *    validation queries, replacing DuckDB's INSERT-time checks),
  *  - insert-select loading (`load_ldf`, build_db.py:72-84) that stores
  *    each validated table's rows once, as the INSERT does,
  *  - schema introspection (information_schema.columns shape,
  *    build_db.py:55-69) and preview (LIMIT 5, build_db.py:86-92),
  *  - whole-database export (EXPORT DATABASE, build_db.py:1423) as
  *    parquet-per-table plus generated DDL text,
  *  - schema-doc export with PK/FK classification
  *    (build_db.md:1444-1461 → docs/schema.csv).
  *
  * Registration, introspection and a `validate = false` load launch no
  * jobs. A validated load runs the jobs of its frame's own shuffles and
  * one job that fills the store, then one count action per constraint
  * over the stored rows. Preview runs one CollectLimitExec job; export
  * runs one write job per table, which reads a validated table's stored
  * rows, not its sources.
  */
object Warehouse {

  /** Informational constraint metadata (the DDL surface of S6). */
  final case class FkEdge(cols: Seq[String], refTable: String, refCols: Seq[String])
  final case class TableMeta(name: String, pk: Seq[String] = Nil,
      fks: Seq[FkEdge] = Nil)

  final case class ConstraintViolation(table: String, kind: String,
      detail: String, count: Long)

  private val registry =
    scala.collection.concurrent.TrieMap.empty[String, TableMeta]

  /** The persisted frame of every table a validated [[load]] stored. */
  private val stored =
    scala.collection.concurrent.TrieMap.empty[String, DataFrame]

  def meta(name: String): Option[TableMeta] = registry.get(name)

  /** Register a frame as a named table with constraint metadata and
    * validate the constraints — the Spark form of DuckDB's constrained
    * `INSERT INTO t SELECT * FROM ldf`. Returns violations (empty =
    * the load would have succeeded in the reference engine).
    *
    * A validated load stores the rows once, as the INSERT does: the
    * frame is persisted (MEMORY_AND_DISK), the first check's read fills
    * the store, and the PK check and each FK check (against the parent's
    * stored rows) read the stored rows. Later reads — child tables' FK
    * checks, [[exportDatabase]], a child build that embeds this frame —
    * are served the stored rows too, so a change to the sources is not
    * seen until the tables are loaded again: re-loading a name, or
    * [[clear]], drops the stored rows. `validate = false` only
    * registers the lazy view and launches no job. */
  def load(spark: SparkSession, df: DataFrame, m: TableMeta,
      validate: Boolean = true): Seq[ConstraintViolation] = {
    stored.remove(m.name).foreach(_.unpersist())
    df.createOrReplaceTempView(m.name)
    registry.put(m.name, m)
    refreshInformationSchema(spark)
    if (!validate) Nil
    else {
      stored.put(m.name, df.persist(StorageLevel.MEMORY_AND_DISK))
      val pkViol =
        if (m.pk.isEmpty) Nil
        else {
          val n = Relational.pkViolations(df, m.pk).count()
          if (n > 0) Seq(ConstraintViolation(m.name, "PRIMARY KEY",
            m.pk.mkString(","), n)) else Nil
        }
      val fkViol = m.fks.flatMap { fk =>
        val parent = spark.table(fk.refTable)
        val n = Relational.fkOrphans(df, parent, fk.cols.zip(fk.refCols)).count()
        if (n > 0) Seq(ConstraintViolation(m.name, "FOREIGN KEY",
          s"${fk.cols.mkString(",")} -> ${fk.refTable}", n)) else Nil
      }
      pkViol ++ fkViol
    }
  }

  /** Q2: `SELECT * FROM t LIMIT n` preview. */
  def preview(spark: SparkSession, table: String, n: Int = 5): DataFrame =
    spark.table(table).limit(n)

  /** Q1: information_schema.columns shape for one table —
    * (table_name, ordinal_position, column_name, data_type). */
  def schemaReport(spark: SparkSession, table: String): DataFrame = {
    import spark.implicits._
    spark.table(table).schema.fields.zipWithIndex.map { case (f, i) =>
      (table, i + 1, f.name, f.dataType.sql)
    }.toSeq.toDF("table_name", "ordinal_position", "column_name", "data_type")
  }

  /** Q3/S9: schema doc over the registered tables with the reference's
    * PK/FK classification rule (F7: CASE + contains on the column name,
    * build_db.md:1452-1456), enriched with declared constraint
    * metadata. */
  def schemaDoc(spark: SparkSession): DataFrame = {
    import spark.implicits._
    registry.keys.toSeq.sorted.flatMap { t =>
      val m = registry(t)
      spark.table(t).schema.fields.zipWithIndex.map { case (f, i) =>
        val constraint =
          if (m.pk.contains(f.name)) "PK"
          else if (m.fks.exists(_.cols.contains(f.name))) "FK"
          else if (f.name.contains("_id")) "key-like"
          else ""
        (t, i + 1, f.name, f.dataType.sql, constraint)
      }
    }.toDF("table_name", "ordinal_position", "column_name", "data_type",
      "constraint")
  }

  /** Generated `CREATE TABLE` DDL text for one registered table —
    * the exported-schema.sql analog (S8's DDL half). */
  def ddl(spark: SparkSession, table: String): String = {
    val m = registry.getOrElse(table, TableMeta(table))
    val cols = spark.table(table).schema.fields.map { f =>
      val pk = if (m.pk == Seq(f.name)) " PRIMARY KEY" else ""
      s"  ${f.name} ${f.dataType.sql}$pk"
    }
    val compositePk =
      if (m.pk.length > 1) Seq(s"  PRIMARY KEY (${m.pk.mkString(", ")})") else Nil
    val fkLines = m.fks.map(fk =>
      s"  FOREIGN KEY (${fk.cols.mkString(", ")}) REFERENCES " +
        s"${fk.refTable}(${fk.refCols.mkString(", ")})")
    (s"CREATE OR REPLACE TABLE $table (" +:
      (cols ++ compositePk ++ fkLines).mkString(",\n") +:
      Seq(");")).mkString("\n")
  }

  /** Q1 as ad-hoc SQL: keep `information_schema_columns` registered as
    * a temp view over [[schemaDoc]], so the reference's
    * `SELECT … FROM information_schema.columns` workflow
    * (build_db.py:55-69) runs unchanged through `spark.sql`. The view
    * is driver-local metadata — rebuilding it launches no jobs. */
  def refreshInformationSchema(spark: SparkSession): Unit =
    schemaDoc(spark).createOrReplaceTempView("information_schema_columns")

  /** Absolute dir of the most recent [[exportDatabase]] call — the
    * late-bound-oracle stash for s16, whose DuckDB oracle reads the
    * exported parquet files themselves (path known only at run time). */
  val lastExportDir =
    new java.util.concurrent.atomic.AtomicReference[Option[String]](None)

  /** S8: whole-database export — every registered table to
    * `outDir/<name>.parquet` plus `outDir/schema.sql`. */
  def exportDatabase(spark: SparkSession, outDir: String): Unit = {
    Files.createDirectories(Paths.get(outDir))
    lastExportDir.set(Some(Paths.get(outDir).toAbsolutePath.toString))
    val tables = registry.keys.toSeq.sorted
    tables.foreach { t =>
      spark.table(t).write.mode("overwrite").parquet(s"$outDir/$t.parquet")
    }
    val sql = tables.map(ddl(spark, _)).mkString("\n\n") + "\n"
    Files.writeString(Paths.get(s"$outDir/schema.sql"), sql)
  }

  private val createRe =
    """(?s)CREATE OR REPLACE TABLE (\w+) \((.*?)\n\);""".r
  private val fkRe =
    """FOREIGN KEY \(([^)]*)\) REFERENCES (\w+)\(([^)]*)\)""".r
  private val compositePkRe = """^PRIMARY KEY \(([^)]*)\)$""".r
  private val colPkRe = """^(\w+) .*PRIMARY KEY$""".r

  /** Round-trip of [[exportDatabase]]: read `<dir>/<name>.parquet` for
    * every table declared in `<dir>/schema.sql`, re-register it with
    * the PK/FK metadata parsed back out of the generated DDL, and
    * refresh the information_schema view. The reloadable-export loop
    * the reference gets from DuckDB's `EXPORT DATABASE` / `IMPORT
    * DATABASE`. Returns the imported table names. */
  def importDatabase(spark: SparkSession, dir: String,
      validate: Boolean = false): Seq[String] = {
    val sql = Files.readString(Paths.get(s"$dir/schema.sql"))
    createRe.findAllMatchIn(sql).map { m =>
      val name = m.group(1)
      val lines = m.group(2).split(",\n").map(_.trim)
      val pk = lines.collectFirst { case compositePkRe(cols) =>
        cols.split(", ").toSeq
      }.getOrElse(lines.collect { case colPkRe(c) => c }.toSeq)
      val fks = lines.collect { case fkRe(cols, ref, refCols) =>
        FkEdge(cols.split(", ").toSeq, ref, refCols.split(", ").toSeq)
      }.toSeq
      load(spark, spark.read.parquet(s"$dir/$name.parquet"),
        TableMeta(name, pk, fks), validate)
      name
    }.toSeq
  }

  /** Bucketed persistent table: pre-shuffles ONCE at write time so
    * every future equi-join or aggregation on the bucket key reads
    * co-located, pre-sorted buckets — no Exchange in those plans (the
    * Spark analog of clustered/partitioned fact tables; the write
    * path for repeatedly-joined 100 TB facts). `BucketingSpec` proves
    * the exchange-free join plan. */
  def saveBucketed(df: DataFrame, table: String, bucketCols: Seq[String],
      nBuckets: Int): Unit = {
    val spark = df.sparkSession
    // A previous session's managed-table directory blocks saveAsTable
    // even though the fresh catalog has no such table: drop any
    // registration AND clear the stale location first.
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    val loc = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), table)
    loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(loc, true)
    df.write.mode("overwrite")
      .bucketBy(nBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .format("parquet")
      .saveAsTable(table)
  }

  /** Hive-style partitioned parquet layout: one directory per distinct
    * value combination of `partCols`. The 100 TB companion to
    * [[saveBucketed]] — bucketing co-locates JOIN keys, partitioning
    * makes selective FILTERS skip whole directories at planning time
    * (partition pruning: the scan never lists, opens, or reads pruned
    * partitions). Partition by low-cardinality, always-filtered
    * columns (date, source, event type); high-cardinality partition
    * keys produce a small-files explosion — bucket those instead.
    * Returns the written location. */
  def savePartitioned(df: DataFrame, dirName: String,
      partCols: Seq[String]): String = {
    val spark = df.sparkSession
    val loc = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), dirName)
    loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(loc, true)
    df.write.mode("overwrite").partitionBy(partCols: _*)
      .parquet(loc.toString)
    loc.toString
  }

  /** Write `df` under the warehouse dir in the given file `format`
    * ("parquet", "orc", "json", "csv") and return the location —
    * the storage-format interop surface (ORC carries the same
    * columnar pushdown/pruning contract as parquet; Spark's reader
    * exposes PushedFilters either way). */
  def saveFormat(df: DataFrame, dirName: String, format: String): String = {
    val spark = df.sparkSession
    val loc = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), dirName)
    loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(loc, true)
    df.write.mode("overwrite").format(format).save(loc.toString)
    loc.toString
  }

  /** Per-column data profile — the analog of DuckDB's SUMMARIZE
    * (the reference engine's built-in profiling surface): one row per
    * column with its declared type, row count, null count, and EXACT
    * distinct count, computed in a single aggregation pass.
    *
    * Scale note: exact multi-column distinct aggregates plan as an
    * Expand (one duplicate of the input per counted column) — the
    * standard cost of exact profiling. At 100 TB profile a
    * `Sampling.hashSample` slice, or swap countDistinct for
    * approx_count_distinct where ±2% is acceptable; this exact form
    * is what the cross-engine gate can verify. */
  def profile(df: DataFrame): DataFrame = {
    val aggs = df.schema.fields.flatMap(f => Seq(
      sum(when(col(f.name).isNull, 1).otherwise(0)).cast("long")
        .as(s"__n_${f.name}"),
      countDistinct(col(f.name)).as(s"__d_${f.name}")))
    val row = df.agg(count(lit(1)).as("__rows"), aggs.toSeq: _*)
    val entries = df.schema.fields.map(f => struct(
      lit(f.name).as("column_name"),
      lit(f.dataType.simpleString).as("data_type"),
      col("__rows").as("n_rows"),
      col(s"__n_${f.name}").as("n_nulls"),
      col(s"__d_${f.name}").as("n_distinct")))
    row.select(explode(array(entries.toSeq: _*)).as("c")).select("c.*")
  }

  /** The profile you actually run at 100 TB: a deterministic
    * [[graft.operators.Sampling.hashSample]] slice (`pct`%) profiled
    * exactly, plus an HLL++ approximate distinct whose agreement with
    * the sampled-exact count is ASSERTED as a boolean (the g4
    * pattern) — so the oracle gates the estimator's accuracy even
    * though no cross-engine sketch can hash-match. The Expand cost of
    * the exact distinct applies only to the sample; the approx
    * aggregate is the full-pass-sized form. */
  def profileSampled(df: DataFrame, idCol: String, pct: Int,
      rsd: Double = 0.02, tol: Double = 0.05): DataFrame = {
    val s = graft.operators.Sampling.hashSample(df, idCol, pct)
    val exactAggs = df.schema.fields.flatMap(f => Seq(
      sum(when(col(f.name).isNull, 1).otherwise(0)).cast("long")
        .as(s"__n_${f.name}"),
      countDistinct(col(f.name)).as(s"__d_${f.name}")))
    // The HLL sketches aggregate in their OWN pass, cross-joined back
    // (1 row × 1 row): mixing them into the multi-distinct Expand
    // would drag each ~1.5k-word sketch buffer through every expanded
    // row copy — measured 13 s → 1.5 s on the sf0.1 orders profile.
    val approxAggs = df.schema.fields.map(f =>
      approx_count_distinct(col(f.name), rsd).as(s"__a_${f.name}"))
    val row = s.agg(count(lit(1)).as("__rows"), exactAggs.toSeq: _*)
      .crossJoin(s.agg(approxAggs.head, approxAggs.tail.toSeq: _*))
    val entries = df.schema.fields.map(f => struct(
      lit(f.name).as("column_name"),
      lit(f.dataType.simpleString).as("data_type"),
      col("__rows").as("n_rows"),
      col(s"__n_${f.name}").as("n_nulls"),
      col(s"__d_${f.name}").as("n_distinct"),
      (abs(col(s"__a_${f.name}").cast("double") - col(s"__d_${f.name}")) <=
        col(s"__d_${f.name}").cast("double") * tol)
        .as("approx_within_tol")))
    row.select(explode(array(entries.toSeq: _*)).as("c")).select("c.*")
  }

  /** Numeric quantile profile with an asserted approximation bound:
    * per column, exact min/max plus a boolean per requested quantile
    * stating that `approx_percentile(accuracy)` landed inside the
    * RANK-tolerance envelope [exact(p−δ), exact(p+δ)] — the
    * ε-approximate-quantile guarantee the sketch actually makes
    * (rank error ≤ n/accuracy), so the bound is independent of value
    * granularity: a coarse discrete column cannot fail it through the
    * approx-returns-a-value vs exact-interpolates gap (the g4 pattern
    * again — cross-engine sketches can't hash-match, so the oracle
    * asserts the bound with literal TRUE). The envelope values are
    * exact type-1 (discrete) quantiles; since the sketch returns an
    * actual data value whose rank error is ≤ n/accuracy ≪ n·rankTol,
    * the discrete envelope bounds it whenever the interpolated one
    * would. The exact quantiles exist only to power the assertion;
    * the product operator at 100 TB is the approx one. */
  def profileQuantiles(df: DataFrame, cols: Seq[String], ps: Seq[Double],
      accuracy: Int = 10000, rankTol: Double = 0.005,
      materialize: DataFrame => DataFrame = identity): DataFrame = {
    require(cols.nonEmpty && ps.nonEmpty, "need columns and quantiles")
    // The exact envelope comes from the histogram-rank decomposition
    // (the Stats.globalExactQuantiles machinery), NOT from Spark's
    // exact `percentile` aggregate: that one buffers the ENTIRE column
    // in a single ungrouped aggregation buffer — one task holding all
    // values of all columns, an OOM at scale. Here the only per-row
    // work is one unpivot + one map-side-combined histogram shuffle;
    // every window runs over a range-partitioned slice of DISTINCT
    // values, never rows. All-null columns yield no output row (no
    // histogram mass — the one behavior change vs the buffered form,
    // which emitted a null-enveloped row).
    def bp(p: Double): Long =
      math.max(0L, math.min(10000L, math.round(p * 10000)))
    def ldiv(a: Column, b: Column): Column =
      ((a - pmod(a, b)) / b).cast("long")
    val unpiv = df.select(explode(array(cols.map(c =>
        struct(lit(c).as("__c"), col(c).cast("double").as("__v"))): _*))
        .as("e"))
      .select(col("e.__c").as("__c"), col("e.__v").as("__v"))
      .filter(col("__v").isNotNull)
    // the histogram is the fork point (cum pass + totals pass), and
    // the totals branch sits under the join's deliberate broadcast —
    // a broadcast build cannot reuse the stream side's exchanges, so
    // under the identity default the scan+unpivot+histogram chain is
    // planned and computed once per branch (r18 plan dump: the chain
    // appears twice, one copy under BroadcastExchange). `materialize`
    // on the range-bucketed histogram cuts it to one compute for
    // corpus-scale callers; the g7 gate entry measured BOTH remedies
    // worse at sf0.1 and keeps identity (interleaved medians:
    // identity 3.07 s, checkpointed 3.90 — the near-all-distinct
    // price columns make the bucketed histogram ~row-count-sized, so
    // materializing it costs more than the saved lineitem pass — and
    // a broadcast→merge join swap 3.23). Recompute-from-lineage also
    // stays the fault-tolerant house default for library callers.
    val h = unpiv.groupBy(col("__c"), col("__v"))
      .agg(count(lit(1)).as("__cnt"))
    // two-level prefix sum, grouped by column: range buckets on
    // (__c, __v); a bucket may straddle a column boundary, so the
    // in-bucket window partitions by (__b, __c) and the tiny offsets
    // frame has at most 2x buckets rows per column
    val buckets = math.min(1024, math.max(1,
      df.sparkSession.sparkContext.defaultParallelism * 4))
    val bucketed = materialize(
      h.repartitionByRange(buckets, col("__c"), col("__v"))
        .withColumn("__b", spark_partition_id().cast("long")))
    val inBucket = Window.partitionBy(col("__b"), col("__c"))
      .orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withCum = bucketed
      .withColumn("__cum_in", sum(col("__cnt")).over(inBucket))
    // per-(column,bucket) totals come straight off the histogram (no
    // window), and BOTH the bucket offsets and the per-column grand
    // total n ride the same tiny frame via two windows over it — so
    // the scan+explode+histogram chain is computed exactly twice
    // (once under the in-bucket window, once for this totals frame),
    // not once per fork
    val overBuckets = Window.partitionBy(col("__c")).orderBy(col("__b"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val colTotal = Window.partitionBy(col("__c"))
    val offsets = bucketed.groupBy(col("__c"), col("__b"))
      .agg(sum(col("__cnt")).as("__tot"))
      .withColumn("__off", sum(col("__tot")).over(overBuckets) - col("__tot"))
      .withColumn("__n", sum(col("__tot")).over(colTotal).cast("long"))
      .select(col("__c"), col("__b"), col("__off"), col("__n"))
    val withN = withCum.join(broadcast(offsets), Seq("__c", "__b"))
      .withColumn("__cum", (col("__cum_in") + col("__off")).cast("long"))
    // exact discrete envelope values at ranks ceil(n*(p±rankTol)):
    // type-1 quantiles, integer-exact basis-point arithmetic
    val envAggs = ps.indices.flatMap { i =>
      val p = ps(i)
      def q(b: Long) = {
        val k = ldiv(col("__n") * b + 9999L, lit(10000L))
        min(when(col("__cum") >= k, col("__v")))
      }
      Seq(q(bp(p - rankTol)).as(s"__lo_$i"), q(bp(p + rankTol)).as(s"__hi_$i"))
    } ++ Seq(min(col("__v")).as("__min"), max(col("__v")).as("__max"))
    val env = withN.groupBy(col("__c")).agg(envAggs.head, envAggs.tail: _*)
    // the product operator under test: one single-row agg of array
    // sketches (mergeable, bounded memory), crossed with the
    // |cols|-row envelope frame
    val apAggs = cols.map(c =>
      percentile_approx(col(c), array(ps.map(lit): _*), lit(accuracy))
        .cast("array<double>").as(s"__ap_$c"))
    val approxRow = df.agg(apAggs.head, apAggs.tail: _*)
    val outCols = Seq(col("__c").as("column_name"),
      col("__min").as("min_val"), col("__max").as("max_val")) ++
      ps.zipWithIndex.map { case (p, i) =>
        val ap = cols.tail.foldLeft(
          when(col("__c") === cols.head,
            element_at(col(s"__ap_${cols.head}"), i + 1))) { (acc, c) =>
          acc.when(col("__c") === c, element_at(col(s"__ap_$c"), i + 1))
        }
        (ap >= col(s"__lo_$i") - lit(1e-9) &&
          ap <= col(s"__hi_$i") + lit(1e-9))
          .as(s"p${math.round(p * 100)}_within_tol")
      }
    env.crossJoin(broadcast(approxRow)).select(outCols: _*)
  }

  /** Reset the registry and drop every stored table's rows (test and
    * pass isolation). */
  def clear(): Unit = {
    stored.values.foreach(_.unpersist())
    stored.clear()
    registry.clear()
  }
}
