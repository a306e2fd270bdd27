package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Layout

/** Write-path layout optimization ([[graft.sources.Layout]]) as a
  * driver-verifiable query: rewrite `documents` into the two-layer
  * pruned layout (directories by `lang`, files range-split + sorted on
  * `n_chars`), then run a selective scan over it. The AGGREGATE columns
  * replay exactly in DuckDB against the RAW table (a layout rewrite
  * must never change query results); the two pruning booleans are
  * in-query plan evidence — the filter must reach the scan as
  * `PartitionFilters` (directory pruning) and `PushedFilters`
  * (row-group footer skipping), not evaluate post-read. */
object LayoutQueries {

  /** A layout rewrite of `dir`'s documents, stored once ([[Artifacts]]);
    * the write's `_SUCCESS` file is its commit marker. */
  private def rewritten(s: SparkSession, family: String, dir: String)(
      write: (DataFrame, String) => Unit): String =
    Artifacts.stored(s, Artifacts.key(family, dir, "documents"), "_SUCCESS")(
      write(Tables(s, dir, "documents"), _))(identity)

  private def layoutDir(s: SparkSession, dir: String): String =
    rewritten(s, "layout", dir)(Layout.optimize(_, _,
      partitionCols = Seq("lang"), sortCols = Seq("n_chars")))

  private def prunedScan(s: SparkSession, dir: String): DataFrame = {
    val scan = Layout.read(s, layoutDir(s, dir))
      .filter(col("lang") === "en" &&
        col("n_chars").between(100L, 400L))
    val (partitionPruned, filtersPushed) = Layout.pruning(scan)
    scan.agg(
        count(lit(1)).as("n_docs"),
        sum("n_chars").as("sum_chars"),
        min("n_chars").as("min_chars"),
        max("n_chars").as("max_chars"))
      .withColumn("partition_pruned", lit(partitionPruned))
      .withColumn("filters_pushed", lit(filtersPushed))
  }

  private def zorderDir(s: SparkSession, dir: String): String =
    rewritten(s, "zorder", dir)(Layout.zorder(_, _,
      Seq("n_chars", "doc_id"), bits = 8, numRangeSplits = 16))

  /** Z-order layout on (n_chars, doc_id): selective band scans on EACH
    * dimension replay exactly against the raw table (the rewrite changes
    * nothing), and the locality booleans pin that every file's bounding
    * box is tight on BOTH dimensions at once — the property that lets
    * parquet footer stats prune a one-dimension predicate over a
    * two-dimension clustering. */
  private def zorderScan(s: SparkSession, dir: String): DataFrame = {
    val zdir = zorderDir(s, dir)
    val z = Layout.read(s, zdir)
    val byChars = z.filter(col("n_chars").between(100L, 300L))
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"),
        sum("doc_id").as("sum_ids"))
      .withColumn("band", lit("n_chars"))
    val byId = z.filter(col("doc_id") % lit(97) < 5)
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"),
        sum("doc_id").as("sum_ids"))
      .withColumn("band", lit("doc_id"))
    // locality evidence: mean per-file extent of each z-dim, normalized
    // by its full range, must sit well under 1 (a single-column sort
    // leaves the other dim's extent ~1)
    def meanExtent(c: String): Double = {
      val lohi = Layout.fileExtents(s, zdir, c)
        .agg(avg(col("hi") - col("lo")).as("e"),
          (max(col("hi")) - min(col("lo"))).as("r"))
        .head()
      lohi.getDouble(0) / math.max(lohi.getDouble(1), 1.0)
    }
    val local = meanExtent("n_chars") < 0.6 && meanExtent("doc_id") < 0.6
    byChars.unionByName(byId).withColumn("z_local", lit(local))
  }

  /** Bucketize customer and orders on the join key (8 buckets each),
    * stored once ([[Artifacts]]; orders is written last, so its
    * `_SUCCESS` commits both). Table names carry the source fingerprint
    * so a data refresh rebuilds; a JVM whose catalog has not seen the
    * stored tables registers them over the stored files. */
  private def bucketedTables(s: SparkSession, dir: String): (String, String) = {
    val fp = Artifacts.sourceFingerprint(s"$dir/orders.parquet")
    val (ct, ot) = (s"graft_bkt_customer_$fp", s"graft_bkt_orders_$fp")
    Artifacts.stored(s, Artifacts.key("layout_bkt", dir, "orders"),
        "orders/_SUCCESS") { base =>
      Layout.bucketize(Tables(s, dir, "customer"), ct,
        s"$base/customer", Seq("c_custkey"), numBuckets = 8)
      Layout.bucketize(
        Tables(s, dir, "orders")
          .withColumnRenamed("o_custkey", "c_custkey"), ot,
        s"$base/orders", Seq("c_custkey"), numBuckets = 8)
    } { base =>
      Seq(ct -> "customer", ot -> "orders").foreach { case (t, sub) =>
        if (!s.catalog.tableExists(t))
          s.sql(s"CREATE TABLE $t (${s.read.parquet(s"$base/$sub").schema.toDDL}) " +
            "USING parquet CLUSTERED BY (c_custkey) SORTED BY (c_custkey) " +
            s"INTO 8 BUCKETS LOCATION '$base/$sub'")
      }
      (ct, ot)
    }
  }

  /** Co-located join over same-bucketed tables: the plan must carry a
    * SortMergeJoin with ZERO Exchange — the shuffle was paid once at
    * write time by [[graft.sources.Layout.bucketize]]. Broadcast is
    * disabled while the plan is forced (a broadcast would also be
    * shuffle-free and prove nothing about the layout); the aggregate
    * itself replays exactly in DuckDB (sum over per-row integer cents —
    * order-free). */
  private def bucketedJoin(s: SparkSession, dir: String): DataFrame = {
    val (ct, ot) = bucketedTables(s, dir)
    val prev = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val joined =
      try {
        s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        val j = s.table(ct).join(s.table(ot), "c_custkey")
          .groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n_orders"),
            sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
        // force physical planning INSIDE the no-broadcast window; the
        // QueryExecution caches it for the later action. The final
        // 5-group aggregate legitimately exchanges on c_mktsegment —
        // the contract is that the JOIN KEY never shuffles.
        val plan = j.queryExecution.executedPlan.toString
        require(plan.contains("SortMergeJoin"),
          "bucketed join did not plan as SortMergeJoin")
        require(!plan.contains("hashpartitioning(c_custkey"),
          "bucketed join still shuffles on the join key — the " +
            "co-location contract broke:\n" + plan)
        j
      } finally s.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    joined.withColumn("colocated_no_exchange", lit(true))
  }

  /** Small-file compaction round trip: write `documents` as 64 tiny
    * files, [[graft.sources.Layout.compact]] them, and prove (a) the
    * file count dropped to the bin-packed target, (b) the data is
    * row-identical — the aggregate replays exactly against the raw
    * table. */
  private def compactRoundTrip(s: SparkSession, dir: String): DataFrame = {
    val base = Artifacts.dir(Artifacts.key("layout_cmp", dir, "documents"))
    def fileCount = new java.io.File(base).listFiles()
      .count(f => f.isFile && !f.getName.startsWith("_") &&
        !f.getName.startsWith("."))
    Tables(s, dir, "documents").repartition(64)
      .write.mode("overwrite").parquet(base)
    val before = fileCount
    val n = Layout.compact(s, base, targetFileBytes = 8L * 1024 * 1024)
    val compacted = before > n && n == fileCount
    s.read.parquet(base).agg(
        count(lit(1)).as("n_docs"),
        sum("n_chars").as("sum_chars"))
      .withColumn("compacted", lit(compacted))
  }

  /** The REAL streaming sink end-to-end: feed `documents` through a
    * MemoryStream in 8 micro-batches into
    * [[graft.streaming.StreamingLayoutSink]] (partitioned by lang,
    * per-leaf compaction gate at 2 files), then aggregate the resulting
    * layout per language — the aggregate must equal the raw table (no
    * row lost or duplicated through appends + compactions), and the
    * booleans pin that the gate actually fired and every leaf ended
    * bounded. A fresh scratch dir per invocation ([[Artifacts.scratch]]):
    * append semantics make rerunning into an existing dir double the
    * data. */
  private def streamSink(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val rows = Tables(s, dir, "documents")
      .select("doc_id", "lang", "n_chars")
      .as[(Long, String, Long)].collect()
    val base = Artifacts.scratch("stream_sink")
    val out = s"$base/t"
    val stream = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String, Long)]
    rows.grouped(math.max(1, rows.length / 8))
      .foreach(b => stream.addData(b.toSeq))
    @volatile var fired = false
    val q = graft.streaming.StreamingLayoutSink.writer(
        stream.toDF.toDF("doc_id", "lang", "n_chars"),
        out, partitionCols = Seq("lang"), maxFilesPerLeaf = 2,
        targetFileBytes = 1L << 20,
        onBatch = (_, c) => if (c.nonEmpty) fired = true)
      .option("checkpointLocation", s"$base/ck")
      .start()
    require(q.awaitTermination(180000), "streaming layout sink timed out")
    val leavesBounded = new java.io.File(out).listFiles()
      .filter(_.isDirectory).forall { l =>
        l.listFiles().count(f => f.isFile && !f.getName.startsWith("_") &&
          !f.getName.startsWith(".")) <= 3
      }
    s.read.parquet(out).groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
      .withColumn("compaction_fired", lit(fired))
      .withColumn("leaves_bounded", lit(leavesBounded))
  }

  def defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "layout_pruned_scan" -> (prunedScan _),
    "layout_bucketed_join" -> (bucketedJoin _),
    "layout_compact" -> (compactRoundTrip _),
    "layout_zorder_scan" -> (zorderScan _),
    "stream_layout_sink" -> (streamSink _))

  def oracle: Map[String, String] = Map(
    "layout_pruned_scan" ->
      """SELECT count(*)::BIGINT AS n_docs, sum(n_chars)::BIGINT AS sum_chars,
        |       min(n_chars)::BIGINT AS min_chars,
        |       max(n_chars)::BIGINT AS max_chars,
        |       TRUE AS partition_pruned, TRUE AS filters_pushed
        |FROM documents
        |WHERE lang = 'en' AND n_chars BETWEEN 100 AND 400""".stripMargin,
    "layout_bucketed_join" ->
      """SELECT c_mktsegment, count(*)::BIGINT AS n_orders,
        |       sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS cents,
        |       TRUE AS colocated_no_exchange
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_mktsegment""".stripMargin,
    "layout_compact" ->
      """SELECT count(*)::BIGINT AS n_docs, sum(n_chars)::BIGINT AS sum_chars,
        |       TRUE AS compacted
        |FROM documents""".stripMargin,
    "layout_zorder_scan" ->
      """SELECT count(*)::BIGINT AS n_docs, sum(n_chars)::BIGINT AS sum_chars,
        |       sum(doc_id)::BIGINT AS sum_ids, 'n_chars' AS band,
        |       TRUE AS z_local
        |FROM documents WHERE n_chars BETWEEN 100 AND 300
        |UNION ALL
        |SELECT count(*)::BIGINT, sum(n_chars)::BIGINT, sum(doc_id)::BIGINT,
        |       'doc_id', TRUE
        |FROM documents WHERE doc_id % 97 < 5""".stripMargin,
    "stream_layout_sink" ->
      """SELECT lang, count(*)::BIGINT AS n_docs,
        |       sum(n_chars)::BIGINT AS sum_chars,
        |       TRUE AS compaction_fired, TRUE AS leaves_bounded
        |FROM documents GROUP BY lang""".stripMargin)
}
