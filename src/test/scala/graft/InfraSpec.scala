package graft

import java.nio.file.Files
import java.sql.{Date, Timestamp}

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions._

import graft.catalog.{ViewDef, ViewRegistry}
import graft.plans.PartitionFilterRegistry
import graft.streaming.Ingest
import graft.views._

class InfraSpec extends SparkTestBase {
  import spark.implicits._

  /** Recursive delete for stale managed-table warehouse directories —
    * the in-memory catalog forgets tables between JVM runs but their
    * files survive and wedge CREATE with LOCATION_ALREADY_EXISTS. */
  private def rmr(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rmr))
    f.delete(); ()
  }

  /** Capture every executed plan during `body` — foreachBatch actions
    * post to the execution-listener bus asynchronously, so poll until
    * the captured set is quiescent before returning. */
  private def capturePlans(body: => Unit): Seq[String] = {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val buf = java.util.Collections.synchronizedList(
      new java.util.ArrayList[String]())
    val l = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution,
          d: Long): Unit = { buf.add(qe.executedPlan.toString); () }
      override def onFailure(f: String, qe: QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      body
      var last = -1; var same = 0
      while (same < 3) { // 3 x 200 ms without a new event = drained
        Thread.sleep(200)
        val n = buf.size()
        if (n == last) same += 1 else { same = 0; last = n }
      }
    } finally spark.listenerManager.unregister(l)
    import scala.jdk.CollectionConverters._
    buf.asScala.toSeq
  }

  // --- ViewRegistry -------------------------------------------------------

  test("ViewRegistry renders templates, extracts deps, sorts, deploys") {
    val reg = new ViewRegistry(spark)
    assert(reg.render("SELECT * FROM {{.ProjectID}}.t", Map("ProjectID" -> "p"))
      == "SELECT * FROM p.t")

    val deps = reg.dependencies(
      "WITH c AS (SELECT 1 AS x FROM base_a) " +
        "SELECT * FROM c JOIN base_b ON c.x = base_b.x")
    assert(deps == Set("base_a", "base_b")) // CTE name excluded

    Seq((1, "x")).toDF("k", "v").createOrReplaceTempView("vr_base")
    val views = Seq(
      ViewDef("vr_unified", "SELECT * FROM vr_mid1 UNION ALL SELECT * FROM vr_mid2"),
      ViewDef("vr_mid2", "SELECT k, v FROM vr_base WHERE k > 0"),
      ViewDef("vr_mid1", "SELECT k, v FROM vr_base"))
    val order = reg.deployAll(views)
    assert(order.indexOf("vr_unified") > order.indexOf("vr_mid1"))
    assert(order.indexOf("vr_unified") > order.indexOf("vr_mid2"))
    assert(spark.table("vr_unified").count() == 2)
  }

  test("ViewDef.fromSql extracts the leading-comment description " +
    "(create_view_lib.sh awk contract)") {
    val sql =
      """-- NDT5 download data in standard columns plus annotations.
        |-- This contributes one portion of the unified views.
        |--
        |-- Use with caution!
        |
        |WITH downloads AS (SELECT 1 AS x)
        |SELECT * FROM downloads -- not part of the description
        |""".stripMargin
    val v = ViewDef.fromSql("extended_test", sql)
    assert(v.description ==
      "NDT5 download data in standard columns plus annotations.\n" +
        "This contributes one portion of the unified views.\n\n" +
        "Use with caution!")
    // on the real reference template the awk output matches
    val refSql = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/root/reference/views/ndt_intermediate/" +
        "extended_ndt5_downloads.sql")),
      java.nio.charset.StandardCharsets.UTF_8)
    val d = ViewDef.descriptionFrom(refSql)
    assert(d.startsWith("NDT5 download data in standard columns"))
    assert(d.contains("custom unified views"))
    assert(!d.contains("SELECT")) // extraction stops at the body
  }

  test("ViewRegistry detects dependency cycles") {
    val reg = new ViewRegistry(spark)
    val cyc = Seq(
      ViewDef("cy_a", "SELECT * FROM cy_b"),
      ViewDef("cy_b", "SELECT * FROM cy_a"))
    val e = intercept[RuntimeException](reg.topoSort(cyc, Map.empty))
    assert(e.getMessage.contains("cycle"))
  }

  test("pinnedVariants expands one template into coexisting pinned " +
    "views with recorded bindings") {
    val reg = new ViewRegistry(spark)
    Seq((1, "1995-02-01"), (2, "1995-08-01")).toDF("k", "d")
      .createOrReplaceTempView("pv_base")
    val base = ViewDef("pv_roll",
      "-- rollup\nSELECT k FROM pv_base WHERE d >= '{{.Start}}'",
      description = "rollup")
    val vs = reg.pinnedVariants(base, Seq(
      "before" -> Map("Start" -> "1995-01-01"),
      "after" -> Map("Start" -> "1995-07-01")))
    assert(vs.map(_.name) == Seq("pv_roll_before", "pv_roll_after"))
    // bindings are burned into the body and recorded in the description
    assert(vs.head.sqlTemplate.contains("'1995-01-01'") &&
      !vs.head.sqlTemplate.contains("{{.Start}}"))
    assert(vs.head.description.contains("variant before: Start=1995-01-01"))
    reg.deployAll(vs) // both coexist
    assert(spark.table("pv_roll_before").count() == 2)
    assert(spark.table("pv_roll_after").count() == 1)
  }

  test("BqSchema.diff reports added/removed/retyped paths on a mutated " +
    "copy of the reference ndt schema") {
    import graft.schema.BqSchema
    val raw = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/root/reference/schema/ndt.json")),
      java.nio.charset.StandardCharsets.UTF_8)
    val local = BqSchema.parse(raw)
    // "live" drifts three ways: parser_version dropped (local ADDS it),
    // an extra legacy column appears (local REMOVED it), and a nested
    // anomalies field changed type (RETYPED — not additive-evolvable)
    val live = BqSchema.parse(raw
      .replace("""{ "name": "parser_version", "type": "STRING"},""", "")
      .replace("""{ "name": "test_id", "type": "STRING"},""",
        """{ "name": "test_id", "type": "STRING"},
          |{ "name": "legacy_extra", "type": "STRING"},""".stripMargin)
      .replace("""{ "name": "num_snaps", "type": "INTEGER"},""",
        """{ "name": "num_snaps", "type": "STRING"},"""))
    val d = BqSchema.diff(local, live)
    assert(d.added == Seq("parser_version"))
    assert(d.removed == Seq("legacy_extra"))
    assert(d.retyped == Seq(("anomalies.num_snaps",
      "STRING NULLABLE", "INTEGER NULLABLE")))
    // identical schemas diff empty (the jq-equal case), order-insensitive
    assert(BqSchema.diff(local, BqSchema.parse(raw)).isEmpty)
    val reversed = org.apache.spark.sql.types.StructType(
      local.fields.reverse)
    assert(BqSchema.diff(local, reversed).isEmpty)
  }

  test("deployAllWithAccess mirrors the reference's dataset-access sync " +
    "(authorized-view grants across a two-dataset chain)") {
    import graft.catalog.{AccessEntry, AclRegistry}
    val reg = new ViewRegistry(spark)
    val acl = new AclRegistry
    Seq((1, "x"), (2, "y")).toDF("k", "v")
      .createOrReplaceTempView("acl_base")
    val privateAcl = AccessEntry.parseAclJson(new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
        "/root/reference/acl/private.acl.json")),
      java.nio.charset.StandardCharsets.UTF_8))
    // the reference document carries exactly WRITER/projectWriters +
    // OWNER/projectOwners
    assert(privateAcl.toSet == Set(
      AccessEntry("WRITER", "specialGroup", "projectWriters"),
      AccessEntry("OWNER", "specialGroup", "projectOwners")))
    val views = Seq(
      ViewDef("acl_inter", "SELECT k, v FROM acl_base",
        dataset = "ndt_intermediate"),
      ViewDef("acl_pub", "SELECT k FROM acl_inter", dataset = "ndt",
        access = privateAcl),
      // same-dataset reference: must NOT produce a grant (main.go:196:
      // "Access entries to the same project and dataset are unnecessary")
      ViewDef("acl_sib", "SELECT k FROM acl_pub", dataset = "ndt"))
    val user = "deployer@example.com"
    reg.deployAllWithAccess(views, acl, user = user)
    reg.deployAllWithAccess(views, acl, user = user) // idempotent
    // acl_base's dataset authorizes the intermediate view that reads it
    assert(acl.accessOf("default")
      .contains(AccessEntry.view("ndt_intermediate.acl_inter")))
    // the intermediate dataset authorizes the public view downstream
    val inter = acl.accessOf("ndt_intermediate")
    assert(inter.contains(AccessEntry.view("ndt.acl_pub")))
    assert(inter.count(_ == AccessEntry.view("ndt.acl_pub")) == 1)
    // deployed datasets: defaults + exactly one user WRITER entry
    assert(inter.take(3) == AccessEntry.datasetDefaults)
    assert(inter.count(e => e.entityType == "userByEmail" &&
      e.entity == user) == 1)
    // declared acl.json entries seed the view's own dataset
    val ndt = acl.accessOf("ndt")
    assert(privateAcl.forall(ndt.contains))
    // and the same-dataset acl_sib -> acl_pub reference added no grant
    assert(!ndt.exists(_.entityType == "view"))
    // externally-referenced datasets get defaults but no user entry
    assert(acl.accessOf("default").take(3) == AccessEntry.datasetDefaults)
    assert(!acl.accessOf("default").exists(_.entityType == "userByEmail"))
  }

  // --- PartitionFilterCheck ----------------------------------------------

  test("flagged path-table scans require a partition predicate") {
    val dir = Files.createTempDirectory("pfc").toFile
    val tblDir = new java.io.File(dir, "pf_events")
    Seq((1L, Date.valueOf("2024-01-01"), 10.0),
      (2L, Date.valueOf("2024-01-02"), 20.0))
      .toDF("id", "date", "value")
      .write.partitionBy("date").parquet(tblDir.getAbsolutePath)

    PartitionFilterRegistry.flag("pf_events", "date")
    try {
      val df = spark.read.parquet(tblDir.getAbsolutePath)
      val e = intercept[AnalysisException](df.groupBy().sum("value").collect())
      assert(e.getMessage.contains("partition filter"))
      // with a date predicate the same query is admitted
      val ok = df.filter(col("date") === "2024-01-01")
        .groupBy().sum("value").collect()(0).getDouble(0)
      assert(ok == 10.0)
    } finally PartitionFilterRegistry.unflag("pf_events")
    // unflagged: full scan is allowed again
    assert(spark.read.parquet(tblDir.getAbsolutePath).count() == 2)
  }

  // --- Unified view chain -------------------------------------------------

  private def rawNdt7Fixture = {
    def meas(elapsedUs: Long, acked: Long) = (elapsedUs, (acked, 12000L, 0L, acked + 100))
    // (ElapsedTime, TCPInfo(BytesAcked, MinRTT µs, BytesRetrans, BytesSent))
    val rows = Seq(
      // valid: 20 s, 100 MB
      ("t1", Date.valueOf("2024-01-01"), "good", "8.8.8.8",
        Seq(meas(1000000L, 1000000L), meas(20000000L, 100000000L))),
      // too short: 2 s
      ("t2", Date.valueOf("2024-01-01"), "good", "9.9.9.9",
        Seq(meas(2000000L, 90000000L))),
      // OAM: private client IP
      ("t3", Date.valueOf("2024-01-01"), "good", "10.1.2.3",
        Seq(meas(20000000L, 100000000L))),
      // bad uuid -> dropped in the intermediate view
      ("", Date.valueOf("2024-01-01"), "good", "8.8.4.4",
        Seq(meas(20000000L, 100000000L))),
      // empty measurement array -> IsComplete=false, null summary fields
      ("t5", Date.valueOf("2024-01-01"), "good", "8.8.8.8",
        Seq.empty[(Long, (Long, Long, Long, Long))]))
    rows.map { case (uuid, date, site, clientIp, ms) =>
      val archive = if (site == "good")
        "gs://archive/mlab2-abc01-ndt.tgz" else "gs://archive/other.tgz"
      (uuid + "-id", date,
        ("v1", Timestamp.valueOf("2024-01-01 00:00:00"), archive, "f.tgz"),
        ("1.2.3.4", 443L),
        (clientIp, 5201L),
        ((uuid, Timestamp.valueOf("2024-01-01 00:00:01"), "bbr",
          ms.map { case (el, (ba, mr, br, bs)) => (el, (ba, mr, br, bs)) })))
    }.toDF("id", "date", "parser", "server", "client", "rawd")
      .select(col("id"), col("date"),
        col("parser").cast(
          "struct<Version:string,Time:timestamp,ArchiveURL:string,Filename:string>"),
        col("server").cast("struct<IP:string,Port:bigint>"),
        col("client").cast("struct<IP:string,Port:bigint>"),
        struct(col("rawd").cast(
          "struct<UUID:string,StartTime:timestamp,CongestionControl:string," +
            "ServerMeasurements:array<struct<ElapsedTime:bigint," +
            "TCPInfo:struct<BytesAcked:bigint,MinRTT:bigint," +
            "BytesRetrans:bigint,BytesSent:bigint>>>>").as("Download"))
          .as("raw"))
  }

  test("extendedDownloads computes summary + validity; unified filters") {
    UnifiedViews.prepare(spark)
    val ext = UnifiedViews.extendedDownloads(rawNdt7Fixture)
    val byId = ext.collect().map(r => r.getAs[String]("id") -> r).toMap
    assert(byId.size == 4) // empty-UUID row dropped; empty-array row kept
    // empty ServerMeasurements: incomplete, null throughput, never valid
    val t5 = byId("t5-id")
    assert(!t5.getAs[org.apache.spark.sql.Row]("filter")
      .getAs[Boolean]("IsComplete"))
    assert(t5.getAs[org.apache.spark.sql.Row]("a")
      .isNullAt(t5.getAs[org.apache.spark.sql.Row]("a")
        .fieldIndex("MeanThroughputMbps")))
    val t1 = byId("t1-id")
    val a = t1.getAs[org.apache.spark.sql.Row]("a")
    // 100 MB over 20 s -> 8e8 bits / 2e7 µs = 40 Mbps
    assert(math.abs(a.getAs[Double]("MeanThroughputMbps") - 40.0) < 1e-9)
    assert(a.getAs[Double]("MinRTT") == 12.0)
    val f2 = byId("t2-id").getAs[org.apache.spark.sql.Row]("filter")
    assert(f2.getAs[Boolean]("IsShort"))
    // 10.1.2.3 is RFC1918, not on the OAM VM list — the two flags are
    // separate in the reference (extended_ndt7_downloads.sql:51-67) and
    // both independently exclude the row from IsValidBest.
    val f3 = byId("t3-id").getAs[org.apache.spark.sql.Row]("filter")
    assert(f3.getAs[Boolean]("_IsRFC1918"))
    assert(!f3.getAs[Boolean]("IsOAM"))

    val unified = UnifiedViews.unifiedDownloads(Seq(ext))
    assert(unified.collect().map(_.getAs[String]("id")).toSeq == Seq("t1-id"))
    assert(!unified.columns.contains("filter")) // * EXCEPT (filter)
    val nofilter = UnifiedViews.unifiedDownloads(Seq(ext), applyFilter = false)
    assert(nofilter.count() == 4)
  }

  test("unified uploads: upload semantics + per-era RFC1918/OAM quirks") {
    // Full chain on the smallest sf; era-specific behaviors that the
    // flat oracle also encodes, asserted here at the semantic level.
    val out = graft.queries.ErasUpload.all.head
      .run(spark, "/root/testdata/sf0.001").collect()
    assert(out.nonEmpty)
    // Upload standard columns: fixed direction/CC, NULL LossRate,
    // region masked to NULL (extended_ndt7_uploads.sql:82,85,123)
    assert(out.forall(_.getAs[String]("direction") == "Upload"))
    assert(out.forall(_.getAs[String]("cc") == "Unknown"))
    val lossIdx = out.head.fieldIndex("loss_rate")
    val regionIdx = out.head.fieldIndex("region")
    assert(out.forall(_.isNullAt(lossIdx)))
    assert(out.forall(_.isNullAt(regionIdx)))
    // web100 Site/Machine regex extraction matches the pass-through eras
    assert(out.forall(r => r.getAs[String]("site") == "lga03" &&
      r.getAs[String]("machine") == "mlab2"))
    def ips(view: String): Set[String] =
      out.filter(_.getAs[String]("view_name") == view)
        .map(_.getAs[String]("client_ip")).toSet
    // ndt5 screens RFC1918 on the SERVER address
    // (extended_ndt5_uploads.sql:57-63): private clients survive there
    // and only there.
    assert(ips("extended_ndt5_uploads").contains("10.0.0.1"))
    assert(!ips("extended_ndt7_uploads").contains("10.0.0.1"))
    assert(!ips("extended_web100_uploads").contains("10.0.0.1"))
    // web100's short OAM list (extended_web100_uploads.sql:73-76) lacks
    // the GCE script-exporter IP: OAM for ndt7/ndt5, kept for web100.
    assert(ips("extended_web100_uploads").contains("35.193.254.117"))
    assert(!ips("extended_ndt7_uploads").contains("35.193.254.117"))
    assert(!ips("extended_ndt5_uploads").contains("35.193.254.117"))
  }

  // --- Streaming ----------------------------------------------------------

  test("Sessionize: batch mode splits on gap and emits trailing session") {
    import graft.streaming.Sessionize
    import graft.streaming.Sessionize.Ev
    val evs = Seq(
      Ev(1L, 1L, Timestamp.valueOf("2024-01-01 00:00:00"), 1.0),
      Ev(1L, 2L, Timestamp.valueOf("2024-01-01 00:10:00"), 2.0),
      Ev(1L, 3L, Timestamp.valueOf("2024-01-01 01:00:00"), 4.0), // >30m gap
      Ev(2L, 4L, Timestamp.valueOf("2024-01-01 12:00:00"), 8.0)).toDS()
    val out = Sessionize.sessions(evs, gapMinutes = 30)
      .collect().sortBy(s => (s.user_id, s.session_start.getTime))
    assert(out.length == 3)
    assert(out(0).n_events == 2 && out(0).total_value == 3.0 &&
      out(0).session_end == Timestamp.valueOf("2024-01-01 00:10:00"))
    assert(out(1).n_events == 1 && out(1).total_value == 4.0)
    assert(out(2).user_id == 2L && out(2).n_events == 1)
  }

  test("Sessionize: streaming mode holds open sessions in GroupState and " +
    "emits on event-time timeout") {
    import graft.streaming.Sessionize
    import graft.streaming.Sessionize.Ev
    val dir = Files.createTempDirectory("sess-in").toFile
    val ckpt = Files.createTempDirectory("sess-ck").toFile
    val early = Seq(
      Ev(1L, 1L, Timestamp.valueOf("2024-01-01 00:00:00"), 1.0),
      Ev(1L, 2L, Timestamp.valueOf("2024-01-01 00:10:00"), 2.0),
      // late-clock event advances the watermark far past user 1's timeout
      Ev(9L, 9L, Timestamp.valueOf("2024-01-02 00:00:00"), 0.5)).toDF()
    early.write.parquet(new java.io.File(dir, "drop1").getAbsolutePath)
    val stream = spark.readStream.schema(early.schema)
      .parquet(dir.getAbsolutePath + "/drop*")
      .withWatermark("ts", "10 minutes").as[Ev]
    val q = Sessionize.sessions(stream, gapMinutes = 30)
      .writeStream.format("memory").queryName("sess_out")
      .outputMode("append")
      .option("checkpointLocation", ckpt.getAbsolutePath)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    // user 1's session closed via state timeout once the watermark
    // (driven by the day-2 event) passed end+gap; user 9's stays open.
    val rows = spark.table("sess_out").collect()
    assert(rows.map(_.getLong(0)).toSet == Set(1L))
    assert(rows(0).getInt(3) == 2 && rows(0).getDouble(4) == 3.0)
  }

  test("Throttle: batch mode equals Timeseries.cooldownDedup on the " +
    "events table") {
    import graft.operators.Timeseries
    import graft.streaming.Throttle
    val events = graft.Tables.load(spark, "/root/testdata/sf0.001", "events")
    val batch = Timeseries.cooldownDedup(events,
      Seq("user_id", "event_type"), "ts", "event_id", 7L * 86400L)
      .select("event_id").collect().map(_.getLong(0)).toSet
    val stateful = Throttle.keptEventsDf(events, 7L * 86400L)
      .select("event_id").collect().map(_.getLong(0)).toSet
    assert(stateful == batch)
    assert(stateful.nonEmpty)
  }

  test("Throttle: streaming micro-batches reproduce the batch kept set " +
    "and expire state past the cooldown") {
    import graft.streaming.Throttle
    import graft.streaming.Throttle.Ev
    val inDir = Files.createTempDirectory("thr-in").toFile
    val ckpt = Files.createTempDirectory("thr-ck").toFile
    val evs = Seq(
      Ev(1L, "click", Timestamp.valueOf("2024-01-01 00:00:00"), 1L),
      Ev(1L, "click", Timestamp.valueOf("2024-01-01 00:01:00"), 2L), // < cd
      Ev(1L, "click", Timestamp.valueOf("2024-01-01 00:02:30"), 3L), // >= cd of #1
      Ev(2L, "view", Timestamp.valueOf("2024-01-01 00:00:30"), 4L))
    val late = Seq( // second drop: next micro-batch
      Ev(1L, "click", Timestamp.valueOf("2024-01-01 00:03:00"), 5L), // < cd of #3
      Ev(1L, "click", Timestamp.valueOf("2024-01-01 00:05:00"), 6L), // >= cd of #3
      Ev(9L, "tick", Timestamp.valueOf("2024-01-02 00:00:00"), 9L))
    // one part-file per drop (else maxFilesPerTrigger=1 splits a drop
    // into per-part micro-batches in arbitrary file order)
    evs.toDF().coalesce(1).write
      .parquet(new java.io.File(inDir, "drop1").getAbsolutePath)
    // FileStreamSource orders micro-batches by modification time; a
    // same-second tie would let drop2 (whose day-2 event drives the
    // watermark past drop1's timeouts) process first
    Thread.sleep(1500)
    late.toDF().coalesce(1).write
      .parquet(new java.io.File(inDir, "drop2").getAbsolutePath)
    val stream = spark.readStream.schema(evs.toDF().schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(inDir.getAbsolutePath + "/drop*")
      .withWatermark("ts", "0 seconds").as[Ev]
    val q = Throttle.keptEvents(stream, cooldownSec = 150L)
      .writeStream.format("memory").queryName("thr_out")
      .outputMode("append")
      .option("checkpointLocation", ckpt.getAbsolutePath)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    val kept = spark.table("thr_out").collect().map(_.getLong(3)).toSet
    // greedy with cd=150s: keep 1 (drop 2: 60s), keep 3 (150s >= 150s),
    // keep 4; batch 2: drop 5 (30s after kept 3), keep 6, keep 9
    assert(kept == Set(1L, 3L, 4L, 6L, 9L))
  }

  test("streaming drift screen: a shifted micro-batch scores a higher " +
    "PSI than an in-distribution one") {
    import graft.streaming.Ingest
    val inDir = Files.createTempDirectory("drf-in").toFile
    val outDir = Files.createTempDirectory("drf-out").toFile.getAbsolutePath
    val ckpt = Files.createTempDirectory("drf-ck").toFile.getAbsolutePath
    // baseline: uniform over bins 0..4
    val baseline = (0L until 500L).map(i => (i % 5, 100L))
      .distinct.toDF("bin", "n")
    // drop1 matches the baseline mix; drop2 collapses onto bin 0
    (0L until 200L).map(i => i % 5).toDF("v").coalesce(1)
      .write.parquet(new java.io.File(inDir, "drop1").getAbsolutePath)
    Thread.sleep(1500)
    (0L until 200L).map(_ => 0L).toDF("v").coalesce(1)
      .write.parquet(new java.io.File(inDir, "drop2").getAbsolutePath)
    val stream = spark.readStream
      .schema(org.apache.spark.sql.types.StructType.fromDDL("v BIGINT"))
      .option("maxFilesPerTrigger", 1)
      .parquet(inDir.getAbsolutePath + "/drop*")
    val q = Ingest.startDriftScreen(stream, baseline, col("v"),
      outDir, ckpt)
    q.awaitTermination(60000)
    val scores = spark.read.parquet(outDir)
      .orderBy("batch_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(scores.length == 2)
    assert(scores(0)._2 == 200L && scores(1)._2 == 200L)
    assert(scores(0)._3 < 0.01, s"in-distribution batch drifted: $scores")
    assert(scores(1)._3 > 0.25, s"shifted batch not flagged: $scores")
    assert(scores(1)._3 > scores(0)._3)
  }

  test("streaming cardinality screen: per-batch HLL merge converges to " +
    "the batch sketch of the full stream and estimates never shrink") {
    import graft.operators.Hll
    val inDir = Files.createTempDirectory("hll-in").toFile
    val regDir = Files.createTempDirectory("hll-reg").toFile
      .getAbsolutePath + "/regs"
    val outDir = Files.createTempDirectory("hll-out").toFile.getAbsolutePath
    val ckpt = Files.createTempDirectory("hll-ck").toFile.getAbsolutePath
    val day1 = (0 until 600).map(i => ("s", s"u${i % 150}"))
    val day2 = (0 until 600).map(i => ("s", s"u${100 + (i % 200)}"))
    day1.toDF("src", "url").coalesce(1)
      .write.parquet(new java.io.File(inDir, "drop1").getAbsolutePath)
    Thread.sleep(1500)
    day2.toDF("src", "url").coalesce(1)
      .write.parquet(new java.io.File(inDir, "drop2").getAbsolutePath)
    val stream = spark.readStream
      .schema(org.apache.spark.sql.types.StructType.fromDDL(
        "src STRING, url STRING"))
      .option("maxFilesPerTrigger", 1)
      .parquet(inDir.getAbsolutePath + "/drop*")
    val q = Ingest.startCardinalityScreen(stream, Seq("src"), "url",
      p = 9, regDir, outDir, ckpt)
    q.awaitTermination(60000)
    // standing registers == batch sketch of the concatenated stream
    val whole = Hll.registers((day1 ++ day2).toDF("src", "url"),
      Seq("src"), col("url"), p = 9)
    val standing = Ingest.standingSketch(spark, regDir)
    assert(standing.exceptAll(whole).isEmpty &&
      whole.exceptAll(standing).isEmpty,
      "streamed register merge diverged from the batch sketch")
    // two appended estimate rows, non-decreasing (distinct set grows)
    val est = spark.read.parquet(outDir)
      .orderBy("batch_id").collect().map(_.getDouble(2))
    assert(est.length == 2 && est(1) >= est(0),
      s"running estimate shrank: ${est.toSeq}")
    // day1 ∪ day2 = 300 distinct; p=9 -> ~4.6% se, assert 4-sigma
    assert(math.abs(est(1) - 300.0) / 300.0 < 0.18,
      s"final estimate off: ${est(1)}")
  }

  test("windowed HLL registers: stateful streaming aggregation agrees " +
    "with the same transform run in batch, per event-time window") {
    import graft.operators.Hll
    val dir = Files.createTempDirectory("whll-in").toFile
    val ckpt = Files.createTempDirectory("whll-ck").toFile.getAbsolutePath
    val rows = (0 until 500).map { i =>
      val hour = if (i % 3 == 0) 0 else 1 // two event-time windows
      (Timestamp.valueOf(f"2024-01-01 0$hour:${i % 60}%02d:00"),
        s"u${i % 120}")
    }
    val batchDf = rows.toDF("ts", "url")
    batchDf.write.parquet(new java.io.File(dir, "drop1").getAbsolutePath)
    val stream = spark.readStream
      .schema(org.apache.spark.sql.types.StructType.fromDDL(
        "ts TIMESTAMP, url STRING"))
      .parquet(dir.getAbsolutePath + "/drop*")
    val q = Hll.windowedRegisters(stream, "ts", col("url"), p = 9,
        "1 hour", "30 minutes")
      .writeStream.format("memory").queryName("whll_out")
      .outputMode("complete")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    val streamed = spark.table("whll_out").collect()
      .map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2))).toSet
    val batch = Hll.windowedRegisters(batchDf, "ts", col("url"), p = 9,
        "1 hour", "30 minutes").collect()
      .map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed == batch,
      "streamed windowed registers diverged from batch")
    // estimates per window land near the true distinct counts
    // (window 0: u0,u3,...,u117 -> 40 distinct; window 1: 120 distinct
    // minus the 40 multiples of 3 -> 80)
    val est = Hll.estimate(
      spark.table("whll_out").withColumnRenamed("window_start", "ws"),
      Seq("ws"), p = 9).orderBy("ws").collect().map(_.getDouble(2))
    assert(est.length == 2)
    assert(math.abs(est(0) - 40.0) / 40.0 < 0.2, s"w0: ${est(0)}")
    assert(math.abs(est(1) - 80.0) / 80.0 < 0.2, s"w1: ${est(1)}")
  }

  test("windowed Count-Min counters: stateful streaming aggregation " +
    "agrees with batch per event-time window; estimates exact in the " +
    "wide regime") {
    import graft.operators.CountMin
    val dir = Files.createTempDirectory("wcm-in").toFile
    val ckpt = Files.createTempDirectory("wcm-ck").toFile.getAbsolutePath
    val rows = (0 until 400).map { i =>
      val hour = if (i % 4 == 0) 0 else 1
      (Timestamp.valueOf(f"2024-01-01 0$hour:${i % 60}%02d:00"),
        if (i % 5 == 0) "hot" else s"k${i % 30}")
    }
    val batchDf = rows.toDF("ts", "key")
    batchDf.write.parquet(new java.io.File(dir, "drop1").getAbsolutePath)
    val stream = spark.readStream
      .schema(org.apache.spark.sql.types.StructType.fromDDL(
        "ts TIMESTAMP, key STRING"))
      .parquet(dir.getAbsolutePath + "/drop*")
    val q = CountMin.windowedSketch(stream, "ts", col("key"),
        depth = 3, width = 1024, "1 hour", "30 minutes")
      .writeStream.format("memory").queryName("wcm_out")
      .outputMode("complete")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    def key(r: org.apache.spark.sql.Row) =
      (r.getTimestamp(0), r.getInt(1), r.getLong(2), r.getLong(3))
    val streamed = spark.table("wcm_out").collect().map(key).toSet
    val batch = CountMin.windowedSketch(batchDf, "ts", col("key"),
        depth = 3, width = 1024, "1 hour", "30 minutes").collect()
      .map(key).toSet
    assert(streamed == batch,
      "streamed windowed counters diverged from batch")
    // per-window 'hot' estimates: width 1024 >> 31 keys -> exact
    val est = CountMin.estimate(
      spark.table("wcm_out").withColumnRenamed("window_start", "ws"),
      Seq("ws"), Seq("hot").toDF("probe"), "probe", 3, 1024)
      .orderBy("ws").collect().map(_.getLong(2))
    // hour 0: i % 4 == 0 AND i % 5 == 0 -> i % 20 == 0 -> 20 events
    assert(est.toSeq == Seq(20L, 60L), s"got ${est.toSeq}")
  }

  test("streaming frequency screen: per-batch Count-Min sum-merge " +
    "matches the batch sketch and running estimates only grow") {
    import graft.operators.CountMin
    val inDir = Files.createTempDirectory("cm-in").toFile
    val skDir = Files.createTempDirectory("cm-sk").toFile
      .getAbsolutePath + "/sk"
    val outDir = Files.createTempDirectory("cm-out").toFile.getAbsolutePath
    val ckpt = Files.createTempDirectory("cm-ck").toFile.getAbsolutePath
    val day1 = (0 until 300).map(i => ("s", s"k${i % 20}")) ++
      Seq.fill(40)(("s", "hot"))
    val day2 = (0 until 300).map(i => ("s", s"k${i % 30}")) ++
      Seq.fill(60)(("s", "hot"))
    day1.toDF("src", "key").coalesce(1)
      .write.parquet(new java.io.File(inDir, "drop1").getAbsolutePath)
    Thread.sleep(1500)
    day2.toDF("src", "key").coalesce(1)
      .write.parquet(new java.io.File(inDir, "drop2").getAbsolutePath)
    val stream = spark.readStream
      .schema(org.apache.spark.sql.types.StructType.fromDDL(
        "src STRING, key STRING"))
      .option("maxFilesPerTrigger", 1)
      .parquet(inDir.getAbsolutePath + "/drop*")
    val q = Ingest.startFrequencyScreen(stream, Seq("src"), "key",
      depth = 4, width = 2048, probes = Seq("hot", "k0", "nope"),
      skDir, outDir, ckpt)
    q.awaitTermination(60000)
    val whole = CountMin.sketch((day1 ++ day2).toDF("src", "key"),
      Seq("src"), col("key"), 4, 2048)
    val standing = Ingest.standingSketch(spark, skDir)
    assert(standing.exceptAll(whole).isEmpty &&
      whole.exceptAll(standing).isEmpty,
      "streamed counter merge diverged from the batch sketch")
    val est = spark.read.parquet(outDir)
      .orderBy("batch_id", "probe").collect()
      .map(r => (r.getLong(3), r.getString(1), r.getLong(2)))
    // batch 0: day1 only; batch 1: cumulative. CM never undercounts,
    // width 2048 >> 31 distinct keys -> exact here.
    val byBatch = est.groupBy(_._1).view.mapValues(
      _.map(t => t._2 -> t._3).toMap).toMap
    assert(byBatch(0L) == Map("hot" -> 40L, "k0" -> 15L, "nope" -> 0L),
      s"batch 0 estimates: ${byBatch(0L)}")
    assert(byBatch(1L) == Map("hot" -> 100L, "k0" -> 25L, "nope" -> 0L),
      s"batch 1 estimates: ${byBatch(1L)}")
  }

  test("versioned sketch merge: replayed batch is a no-op for the " +
    "sum-merge and the promote is rename-atomic") {
    import graft.operators.CountMin
    val base = Files.createTempDirectory("mv").toFile.getAbsolutePath + "/sk"
    val b0 = Seq(("s", "a"), ("s", "a"), ("s", "b")).toDF("src", "key")
    val b1 = Seq(("s", "a"), ("s", "c")).toDF("src", "key")
    def sk(df: org.apache.spark.sql.DataFrame) =
      CountMin.sketch(df, Seq("src"), col("key"), 2, 64)
    def m(a: org.apache.spark.sql.DataFrame,
        b: org.apache.spark.sql.DataFrame) = CountMin.merge(a, b, Seq("src"))
    Ingest.mergeVersioned(spark, base, 0L, sk(b0), m)
    Ingest.mergeVersioned(spark, base, 1L, sk(b1), m)
    val once = Ingest.standingSketch(spark, base).collect().toSet
    // foreachBatch crash-replay of batch 1: the sum-merge would
    // double-count without the committed-version check
    Ingest.mergeVersioned(spark, base, 1L, sk(b1), m)
    assert(Ingest.standingSketch(spark, base).collect().toSet == once,
      "replayed batch changed the standing sketch")
    // merged standing table equals the sketch of the concatenated stream
    val whole = sk(b0.unionAll(b1)).collect().toSet
    assert(once == whole)
    // no _tmp_ leftovers after promote
    val names = new java.io.File(base).listFiles().map(_.getName)
    assert(names.forall(_.startsWith("v_")), names.mkString(","))
    // only the latest version is retained
    assert(names.length == 1)
  }

  test("streaming incremental-agg screen: standing state equals the " +
    "batch aggregate of the full stream; running views monotone in n") {
    import graft.operators.Incremental
    val inDir = Files.createTempDirectory("ia-in").toFile
    val stDir = Files.createTempDirectory("ia-st").toFile
      .getAbsolutePath + "/state"
    val outDir = Files.createTempDirectory("ia-out").toFile.getAbsolutePath
    val ckpt = Files.createTempDirectory("ia-ck").toFile.getAbsolutePath
    val day1 = (0 until 300).map(i => (s"g${i % 3}", (i % 17).toDouble))
    val day2 = (0 until 200).map(i => (s"g${i % 3}", (i % 23).toDouble))
    day1.toDF("grp", "v").coalesce(1)
      .write.parquet(new java.io.File(inDir, "drop1").getAbsolutePath)
    Thread.sleep(1500)
    day2.toDF("grp", "v").coalesce(1)
      .write.parquet(new java.io.File(inDir, "drop2").getAbsolutePath)
    val stream = spark.readStream
      .schema(org.apache.spark.sql.types.StructType.fromDDL(
        "grp STRING, v DOUBLE"))
      .option("maxFilesPerTrigger", 1)
      .parquet(inDir.getAbsolutePath + "/drop*")
    val q = Ingest.startIncrementalAggScreen(stream, Seq("grp"), "v",
      stDir, outDir, ckpt)
    q.awaitTermination(60000)
    val whole = Incremental.aggregateState(
      (day1 ++ day2).toDF("grp", "v"), Seq("grp"), "v")
    val standing = Ingest.standingSketch(spark, stDir)
    assert(standing.exceptAll(whole).isEmpty &&
      whole.exceptAll(standing).isEmpty,
      "streamed state merge diverged from the batch aggregate")
    // two appended view snapshots per group; counts strictly grow
    val snaps = spark.read.parquet(outDir)
      .select("grp", "batch_id", "cnt").collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(snaps.size == 6)
    for (g <- Seq("g0", "g1", "g2"))
      assert(snaps((g, 1L)) > snaps((g, 0L)), s"$g count did not grow")
  }

  test("streaming AUC screen: standing partials equal the batch table " +
    "of the full stream; running AUC equals the batch statistic") {
    import graft.operators.Eval
    import org.apache.spark.sql.functions.{col, floor => ffloor}
    val inDir = Files.createTempDirectory("auc-in").toFile
    val stDir = Files.createTempDirectory("auc-st").toFile
      .getAbsolutePath + "/state"
    val outDir = Files.createTempDirectory("auc-out").toFile.getAbsolutePath
    val ckpt = Files.createTempDirectory("auc-ck").toFile.getAbsolutePath
    // deterministic score/label batches with ties across batches
    def mk(n: Int, seed: Int) = (0 until n).map { i =>
      val s = ((i * 37 + seed) % 50) / 10.0
      (s, (i * 13 + seed) % 3 == 0)
    }
    val day1 = mk(300, 1)
    val day2 = mk(200, 2)
    day1.toDF("score", "y").coalesce(1)
      .write.parquet(new java.io.File(inDir, "drop1").getAbsolutePath)
    Thread.sleep(1500)
    day2.toDF("score", "y").coalesce(1)
      .write.parquet(new java.io.File(inDir, "drop2").getAbsolutePath)
    val stream = spark.readStream
      .schema(org.apache.spark.sql.types.StructType.fromDDL(
        "score DOUBLE, y BOOLEAN"))
      .option("maxFilesPerTrigger", 1)
      .parquet(inDir.getAbsolutePath + "/drop*")
    val q = Ingest.startAucScreen(stream,
      ffloor(col("score") * 10) / 10, col("y"), stDir, outDir, ckpt)
    q.awaitTermination(60000)
    // standing partials == batch partials of the concatenated stream
    val whole = Eval.scorePartials((day1 ++ day2).toDF("score", "y"),
      ffloor(col("score") * 10) / 10, col("y"))
    val standing = Ingest.standingSketch(spark, stDir)
    assert(standing.exceptAll(whole).isEmpty &&
      whole.exceptAll(standing).isEmpty,
      "streamed partials diverged from the batch table")
    // final appended AUC == batch AUC of everything
    val outs = spark.read.parquet(outDir)
      .orderBy("batch_id").collect()
    assert(outs.length == 2)
    val batchAuc = Eval.binaryAuc((day1 ++ day2).toDF("score", "y"),
      ffloor(col("score") * 10) / 10, col("y"))
      .collect()(0).getDouble(2)
    assert(outs.last.getAs[Double]("auc") == batchAuc,
      "running AUC diverged from the batch statistic")
  }

  test("streaming KS screen: standing counts equal the batch table; " +
    "final KS equals the batch statistic vs the baseline") {
    import graft.operators.Drift
    import org.apache.spark.sql.functions.{col, floor => ffloor}
    import spark.implicits._
    val inDir = Files.createTempDirectory("ks-in").toFile
    val stDir = Files.createTempDirectory("ks-st").toFile
      .getAbsolutePath + "/state"
    val outDir = Files.createTempDirectory("ks-out").toFile.getAbsolutePath
    val ckpt = Files.createTempDirectory("ks-ck").toFile.getAbsolutePath
    def mk(n: Int, shift: Double) =
      (0 until n).map(i => ((i * 37 % 100) / 10.0 + shift))
    val base = mk(400, 0.0)
    val day1 = mk(300, 1.0) // shifted -> drift should register
    val day2 = mk(200, 1.5)
    day1.toDF("x").coalesce(1)
      .write.parquet(new java.io.File(inDir, "drop1").getAbsolutePath)
    Thread.sleep(1500)
    day2.toDF("x").coalesce(1)
      .write.parquet(new java.io.File(inDir, "drop2").getAbsolutePath)
    val qz = ffloor(col("x") * 10) / 10
    val baseCounts = Drift.valueCounts(base.toDF("x"), qz)
      .localCheckpoint(true)
    val stream = spark.readStream
      .schema(org.apache.spark.sql.types.StructType.fromDDL("x DOUBLE"))
      .option("maxFilesPerTrigger", 1)
      .parquet(inDir.getAbsolutePath + "/drop*")
    val q = Ingest.startKsScreen(stream, qz, baseCounts,
      stDir, outDir, ckpt)
    q.awaitTermination(60000)
    val whole = Drift.valueCounts((day1 ++ day2).toDF("x"), qz)
    val standing = Ingest.standingSketch(spark, stDir)
    assert(standing.exceptAll(whole).isEmpty &&
      whole.exceptAll(standing).isEmpty,
      "streamed counts diverged from the batch table")
    val outs = spark.read.parquet(outDir).orderBy("batch_id").collect()
    assert(outs.length == 2)
    val batchKs = Drift.ksStatistic((day1 ++ day2).toDF("x"),
      base.toDF("x"), qz).collect()(0).getDouble(2)
    assert(outs.last.getAs[Double]("ks") == batchKs,
      "running KS diverged from the batch statistic")
    assert(batchKs > 0.05, "shifted fixture should register drift")
  }

  test("streaming quantile screen: running exact quantiles equal the " +
    "batch statistic of the concatenated stream") {
    import graft.operators.Drift
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val inDir = Files.createTempDirectory("qt-in").toFile
    val stDir = Files.createTempDirectory("qt-st").toFile
      .getAbsolutePath + "/state"
    val outDir = Files.createTempDirectory("qt-out").toFile.getAbsolutePath
    val ckpt = Files.createTempDirectory("qt-ck").toFile.getAbsolutePath
    val day1 = (1 to 60).map(_.toDouble)
    val day2 = (61 to 100).map(_.toDouble)
    day1.toDF("x").coalesce(1)
      .write.parquet(new java.io.File(inDir, "drop1").getAbsolutePath)
    Thread.sleep(1500)
    day2.toDF("x").coalesce(1)
      .write.parquet(new java.io.File(inDir, "drop2").getAbsolutePath)
    val stream = spark.readStream
      .schema(org.apache.spark.sql.types.StructType.fromDDL("x DOUBLE"))
      .option("maxFilesPerTrigger", 1)
      .parquet(inDir.getAbsolutePath + "/drop*")
    val q = Ingest.startQuantileScreen(stream, col("x"),
      Seq(0.5, 0.9), stDir, outDir, ckpt)
    q.awaitTermination(60000)
    val outs = spark.read.parquet(outDir).orderBy("batch_id", "q")
      .collect()
    assert(outs.length == 4) // 2 batches x 2 quantiles
    // batch 0 saw only day1 (1..60): p50 = 30, p90 = 54
    val b0 = outs.filter(_.getAs[Long]("batch_id") == 0)
    assert(b0.map(_.getAs[Double]("v")).toSeq == Seq(30.0, 54.0))
    // final snapshot equals the batch statistic over day1 ++ day2
    val whole = Drift.quantilesFromCounts(
      Drift.valueCounts((day1 ++ day2).toDF("x"), col("x")),
      Seq(0.5, 0.9)).orderBy("q").collect().map(_.getAs[Double]("v"))
    val b1 = outs.filter(_.getAs[Long]("batch_id") == 1)
      .map(_.getAs[Double]("v"))
    assert(b1.toSeq == whole.toSeq,
      "running quantiles diverged from the batch statistic")
    assert(b1.toSeq == Seq(50.0, 90.0))
  }

  test("streaming chi2 screen: running categorical drift equals the " +
    "batch statistic of the concatenated stream") {
    import graft.operators.Drift
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val inDir = Files.createTempDirectory("x2-in").toFile
    val stDir = Files.createTempDirectory("x2-st").toFile
      .getAbsolutePath + "/state"
    val outDir = Files.createTempDirectory("x2-out").toFile.getAbsolutePath
    val ckpt = Files.createTempDirectory("x2-ck").toFile.getAbsolutePath
    val base = Seq.fill(100)("a") ++ Seq.fill(100)("b")
    val day1 = Seq.fill(90)("a") ++ Seq.fill(30)("b") // shifted mix
    val day2 = Seq.fill(50)("a") ++ Seq.fill(10)("b")
    day1.toDF("k").coalesce(1)
      .write.parquet(new java.io.File(inDir, "drop1").getAbsolutePath)
    Thread.sleep(1500)
    day2.toDF("k").coalesce(1)
      .write.parquet(new java.io.File(inDir, "drop2").getAbsolutePath)
    val baseCounts = Drift.catCounts(base.toDF("k"), col("k"))
      .localCheckpoint(true)
    val stream = spark.readStream
      .schema(org.apache.spark.sql.types.StructType.fromDDL("k STRING"))
      .option("maxFilesPerTrigger", 1)
      .parquet(inDir.getAbsolutePath + "/drop*")
    val q = Ingest.startChi2Screen(stream, col("k"), baseCounts,
      stDir, outDir, ckpt)
    q.awaitTermination(60000)
    val outs = spark.read.parquet(outDir).orderBy("batch_id").collect()
    assert(outs.length == 2)
    val batch = Drift.chi2FromCounts(
      Drift.catCounts((day1 ++ day2).toDF("k"), col("k")), baseCounts)
      .collect()(0)
    assert(outs.last.getAs[Double]("chi2") ==
      batch.getAs[Double]("chi2"),
      "running chi2 diverged from the batch statistic")
    assert(batch.getAs[Double]("chi2") > 6.63,
      "shifted mix should exceed the df=1 p<0.01 threshold")
  }

  test("quality gate applies unchanged to a file stream — stateless " +
    "scan-speed ops need no streaming variant") {
    import graft.operators.TextAnalysis
    val inDir = Files.createTempDirectory("qg-in").toFile
    val outDir = Files.createTempDirectory("qg-out").toFile.getAbsolutePath
    val ckpt = Files.createTempDirectory("qg-ck").toFile.getAbsolutePath
    val docs = Seq(
      (1L, "the a of to and is the quick brown fox jumps over lazy dogs"),
      (2L, "!!! ??? ### $$$ %%% ^^^ &&& *** ((( )))"),
      (3L, "der die das und ist ein gutes deutsches dokument hier"))
      .toDF("doc_id", "text")
    docs.coalesce(1).write
      .parquet(new java.io.File(inDir, "drop1").getAbsolutePath)
    def gate(df: org.apache.spark.sql.DataFrame) =
      TextAnalysis.linearGate(df, "doc_id", "text",
        bias = -0.5, wLogTokens = 0.35, wAvgTokenLen = -0.1,
        wPunct = -2.0, wStop = 1.5, wRep = -1.2)
    val stream = spark.readStream
      .schema(org.apache.spark.sql.types.StructType.fromDDL(
        "doc_id BIGINT, text STRING"))
      .parquet(inDir.getAbsolutePath + "/drop*")
    val q = gate(stream).writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getBoolean(2))).toSet
    assert(rows(spark.read.parquet(outDir)) == rows(gate(docs)))
  }

  test("Drift.psiTotal is 0.0 for empty-vs-empty histograms (no NPE)") {
    import graft.operators.Drift
    val empty = Seq.empty[(Long, Long)].toDF("bin", "n")
    assert(Drift.psiTotal(empty, empty) == 0.0)
  }

  test("streaming dedup screen: micro-batches against a static band " +
    "index agree with the batch incremental operator") {
    import graft.operators.Dedup
    val inDir = Files.createTempDirectory("scr-in").toFile
    val outDir = Files.createTempDirectory("scr-out").toFile.getAbsolutePath
    val ckpt = Files.createTempDirectory("scr-ck").toFile.getAbsolutePath
    val oldDocs = Seq(
      (0L, "the quick brown fox jumps over the lazy dog tonight again"),
      (1L, "some other standing corpus document with its own words here"))
      .toDF("doc_id", "text")
    val newDocs = Seq(
      (10L, "the quick brown fox jumps over the lazy dog tonight again"),
      (11L, "fresh unique text that matches nothing in the old corpus"),
      (12L, "some other standing corpus document with its own words here"))
      .toDF("doc_id", "text")
    // two drops → two micro-batches
    newDocs.filter(col("doc_id") < 12L).write
      .parquet(new java.io.File(inDir, "drop1").getAbsolutePath)
    newDocs.filter(col("doc_id") === 12L).write
      .parquet(new java.io.File(inDir, "drop2").getAbsolutePath)

    val index = Dedup.lshBandIndex(oldDocs, "doc_id", "text",
      shingleN = 3, bands = 8, rowsPerBand = 4)
    val stream = Ingest.streamTable(spark,
      inDir.getAbsolutePath + "/drop*", newDocs.schema)
    val q = Ingest.startDedupScreen(stream, index, "doc_id", "text",
      shingleN = 3, bands = 8, rowsPerBand = 4, threshold = 0.5,
      outDir = outDir, checkpointDir = ckpt)
    q.awaitTermination(60000)

    val got = Ingest.versionedRows(spark, outDir)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Long]),
        r.getBoolean(3))).toSeq
    val batch = Dedup.minhashLshIncremental(
      oldDocs.unionByName(newDocs), "doc_id", "text",
      isNew = col("doc_id") >= 10L, shingleN = 3, bands = 8,
      rowsPerBand = 4, threshold = 0.5)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Long]),
        r.getBoolean(3))).toSeq
    assert(got == batch)
    assert(got == Seq((10L, Some(0L), true), (11L, None, false),
      (12L, Some(1L), true)))
  }

  test("streaming media screen: growing band index, exactly-once " +
    "decisions, agrees with the composed batch screens") {
    import graft.operators.{Dedup, Multimodal}
    // deterministic 18x14 P5 images — the ONE shared generator
    // (graft.TestImages.p5), so this spec, the broadcast-bound spec
    // and the screens2 probe cannot drift apart
    def p5(seed: Int): Array[Byte] = TestImages.p5(seed.toLong)
    def media(rows: (Long, Int)*) =
      rows.map { case (id, seed) =>
        val b = p5(seed)
        (id, b, "image/x-portable-graymap", b.length.toLong)
      }.toDF("doc_id", "media", "mime", "n_bytes")

    val seedMedia = media(0L -> 1, 1L -> 2)
    val drop1 = media(10L -> 1, 11L -> 3) // copy of seed A; unique C
    val drop2 = media(20L -> 3, 21L -> 4) // copy of DROP-1's C; unique D

    val inDir = Files.createTempDirectory("med-in").toFile
    val outDir = Files.createTempDirectory("med-out").toFile.getAbsolutePath
    val idxDir = Files.createTempDirectory("med-idx").toFile.getAbsolutePath
    val ckpt = Files.createTempDirectory("med-ck").toFile.getAbsolutePath
    // one part file per drop + per-file trigger ⇒ one micro-batch per
    // drop (AvailableNow otherwise folds all available files into one
    // batch, which would hide the growing-index property)
    drop1.repartition(1).write
      .parquet(new java.io.File(inDir, "drop1").getAbsolutePath)
    drop2.repartition(1).write
      .parquet(new java.io.File(inDir, "drop2").getAbsolutePath)

    val seedIndex = Dedup.codeBandIndex(
      Multimodal.dhashImages(seedMedia).toDF(), "doc_id", "dhash",
      bits = 56, bandsCount = 7).localCheckpoint()
    val stream = Ingest.streamTable(spark,
      inDir.getAbsolutePath + "/drop*", drop1.schema,
      maxFilesPerTrigger = 1)
    val q = Ingest.startMediaScreen(stream, seedIndex,
      bits = 56, maxHamming = 6, bandsCount = 7, maxPosting = 12,
      idxDir = idxDir, outDir = outDir, checkpointDir = ckpt)
    q.awaitTermination(120000)

    def norm(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "is_dup", "match_id").orderBy("doc_id")
        .collect()
        .map(r => (r.getLong(0), r.getBoolean(1),
          Option(r.get(2)).map(_.asInstanceOf[Long]))).toSeq
    val got = norm(Ingest.versionedRows(spark, outDir))
    // the cross-batch pair (20 ~ 11) is the growing-index property a
    // static-seed screen would miss
    assert(got == Seq(
      (10L, true, Some(0L)), (11L, false, None),
      (20L, true, Some(11L)), (21L, false, None)))

    // stream == composed batch screens on the same one-implementation
    // operator: drop1 vs seed, then drop2 vs seed + drop1's bands
    val h1 = Multimodal.dhashImages(drop1).toDF()
    val h2 = Multimodal.dhashImages(drop2).toDF()
    val batch =
      Dedup.codeHammingScreen(h1, "doc_id", "dhash", seedIndex,
        bits = 56, maxHamming = 6, bandsCount = 7, maxPosting = 12)
        .unionByName(Dedup.codeHammingScreen(h2, "doc_id", "dhash",
          seedIndex.unionByName(Dedup.codeBandIndex(h1, "doc_id",
            "dhash", bits = 56, bandsCount = 7)),
          bits = 56, maxHamming = 6, bandsCount = 7, maxPosting = 12))
    assert(got == norm(batch))

    // the standing index now holds seed + both drops; decisions are
    // versioned one dir per batch (exactly-once layout)
    assert(Ingest.standingIndex(spark, idxDir).get.count() ==
      seedIndex.count() + (h1.count() + h2.count()) * 7)
    assert(new java.io.File(outDir).listFiles()
      .count(_.getName.startsWith("v_")) == 2)

    // the capped screen wrote its hot-band stats sidecar at the
    // seeding compaction (eager refresh — batch 2's hot list read it
    // instead of re-aggregating the base)
    assert(new java.io.File(idxDir).listFiles()
      .exists(_.getName.matches("""v_\d{20}s_c12""")),
      "capped media screen left no hot-band sidecar")
  }

  test("hot-band stats sidecar: a capped screen's exclusion list comes " +
    "from the compaction artifact + deltas (no base band scan per " +
    "trigger), exact vs the per-call aggregation, cap changes self-heal") {
    import graft.streaming.Ingest
    val dir = Files.createTempDirectory("hot-idx").toFile.getAbsolutePath
    // band-index-shaped layers: band 7 is hot in the BASE alone
    // (6 > cap 5), band 9 goes hot only ACROSS base+delta (3 + 3),
    // bands 1/2 stay cold
    def bandRows(band: Long, n: Int, idOffset: Long) =
      (0 until n).map(i => (idOffset + i, 1000L + idOffset + i, 0, band))
        .toDF("doc_id", "code", "band_idx", "band_val")
    Ingest.appendVersioned(spark, dir, 0L,
      bandRows(7L, 6, 0).unionByName(bandRows(9L, 3, 100))
        .unionByName(bandRows(1L, 2, 200)), compactEvery = 99)
    Ingest.appendVersioned(spark, dir, 1L,
      bandRows(9L, 3, 300).unionByName(bandRows(2L, 1, 400)), 99)

    val cap = 5
    def setOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    val hot = Ingest.hotBandList(spark, dir, cap).get
    assert(setOf(hot) == Set((0, 7L), (0, 9L)))

    // exactness: equals the per-call aggregation over the full
    // standing index (what dropHotBands would derive)
    val standing = Ingest.standingIndex(spark, dir).get
    val perCall = standing.groupBy("band_idx", "band_val")
      .agg(count(lit(1)).as("n")).filter(col("n") > cap)
      .select("band_idx", "band_val")
    assert(setOf(hot) == setOf(perCall))

    // ONE index scan per trigger: the hot-list plan reads the sidecar
    // (partition-pruned) and the deltas, never the base band rows
    val baseDirName = new java.io.File(dir).listFiles()
      .map(_.getName).find(_.matches("""v_\d{20}b.*""")).get
    val plan = hot.queryExecution.executedPlan.toString
    assert(!plan.contains(baseDirName),
      s"hot list scanned the base layer:\n$plan")
    assert(plan.contains("s_c5"), "hot list did not read the sidecar")

    // a later compaction supersedes the sidecar: exactly one remains,
    // named for the new base; the recomputed hot set is unchanged
    // (band 9's six rows now all sit in the base)
    Ingest.appendVersioned(spark, dir, 2L, bandRows(3L, 1, 500),
      compactEvery = 1)
    val hot2 = Ingest.hotBandList(spark, dir, cap).get
    assert(setOf(hot2) == Set((0, 7L), (0, 9L)))
    def sidecars = new java.io.File(dir).listFiles()
      .map(_.getName).filter(_.matches("""v_\d{20}s_c\d+""")).toSeq
    assert(sidecars == Seq("v_00000000000000000002s_c5"), sidecars)

    // a CAP change writes a SIBLING sidecar under the new cap and
    // KEEPS the same-base one for the old cap: callers alternating
    // caps on one index each pay one O(index) aggregation per base
    // instead of thrashing a rewrite per trigger (each deleting the
    // other's artifact — r14 verdict #7); stale-cap sidecars die with
    // their base at the next compaction
    val hot6 = Ingest.hotBandList(spark, dir, 6).get
    assert(setOf(hot6) == Set.empty, "nothing exceeds cap 6")
    assert(sidecars.sorted == Seq("v_00000000000000000002s_c5",
      "v_00000000000000000002s_c6"), sidecars)
    // alternating back is served from the KEPT artifact — no rewrite
    val c5dir = new java.io.File(dir, "v_00000000000000000002s_c5")
    val mt5 = c5dir.lastModified
    assert(setOf(Ingest.hotBandList(spark, dir, cap).get) ==
      Set((0, 7L), (0, 9L)))
    assert(c5dir.lastModified == mt5,
      "alternating caps rewrote the kept sidecar")

    // an EMPTY base (all-undecodable first media batch) must not
    // wedge the sidecar: the dynamic-partition writer emits no files
    // for zero rows, so the empty stats frame is written UNPARTITIONED
    // (schema-bearing) and every later hotBandList read succeeds
    val dirE = Files.createTempDirectory("hot-empty").toFile
      .getAbsolutePath
    Ingest.appendVersioned(spark, dirE, 0L, bandRows(1L, 1, 0).limit(0),
      compactEvery = 99)
    val hotE = Ingest.hotBandList(spark, dirE, 5).get
    assert(hotE.count() == 0)
    // and the committed sidecar stays readable on the NEXT trigger
    // (the wedge was exists=true + unreadable)
    assert(Ingest.hotBandList(spark, dirE, 5).get.count() == 0)
  }

  test("streaming semantic (embedding) near-dup screen: growing LSH " +
    "cell index, exactly-once decisions, stream == composed batch " +
    "screens; cross-batch duplicate only the growing index catches") {
    import graft.operators.Dedup
    def vec(dir: Int): Seq[Float] =
      (0 until 4).map(i => if (i == dir) 1.0f else 0.0f)
    val seed = Seq((0L, vec(0)), (1L, vec(1)))
      .toDF("vec_id", "embedding")
    val drop1 = Seq((10L, vec(0)), (11L, vec(2)))
      .toDF("vec_id", "embedding") // copy of seed 0; new C
    val drop2 = Seq((20L, vec(2)), (21L, vec(3)))
      .toDF("vec_id", "embedding") // copy of DROP-1's C; new D

    val inDir = Files.createTempDirectory("ann-in").toFile
    val outDir = Files.createTempDirectory("ann-out").toFile.getAbsolutePath
    val idxDir = Files.createTempDirectory("ann-idx").toFile.getAbsolutePath
    val ckpt = Files.createTempDirectory("ann-ck").toFile.getAbsolutePath
    drop1.repartition(1).write
      .parquet(new java.io.File(inDir, "drop1").getAbsolutePath)
    drop2.repartition(1).write
      .parquet(new java.io.File(inDir, "drop2").getAbsolutePath)

    val planes = 3
    val seedIndex = Dedup.embeddingLshIndex(seed, "vec_id", "embedding",
      planes).localCheckpoint()
    val stream = Ingest.streamTable(spark,
      inDir.getAbsolutePath + "/drop*", drop1.schema,
      maxFilesPerTrigger = 1)
    val q = Ingest.startAnnScreen(stream, "vec_id", "embedding",
      seedIndex, planes, threshold = 0.9,
      idxDir = idxDir, outDir = outDir, checkpointDir = ckpt)
    q.awaitTermination(120000)

    def norm(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id", "is_dup", "match_id").orderBy("vec_id")
        .collect()
        .map(r => (r.getLong(0), r.getBoolean(1),
          Option(r.get(2)).map(_.asInstanceOf[Long]))).toSeq
    val got = norm(Ingest.versionedRows(spark, outDir))
    // 20 ~ 11 is the cross-batch pair a static-seed screen would miss
    assert(got == Seq(
      (10L, true, Some(0L)), (11L, false, None),
      (20L, true, Some(11L)), (21L, false, None)), got.mkString(", "))

    // stream == composed batch screens on the one implementation
    val batch = Dedup.embeddingLshScreen(drop1, "vec_id", "embedding",
        seedIndex, planes, 0.9)
      .unionByName(Dedup.embeddingLshScreen(drop2, "vec_id", "embedding",
        seedIndex.unionByName(Dedup.embeddingLshIndex(drop1, "vec_id",
          "embedding", planes)), planes, 0.9))
    assert(got == norm(batch))

    // the standing index holds seed + both drops, one row per vector
    assert(Ingest.standingIndex(spark, idxDir).get.count() == 6)
  }

  test("streaming web-curation screen: extraction -> Gopher gate -> " +
    "exact dedup against a growing canonical index; stream == qQ4's " +
    "batch disposition; cross-batch duplicate only the index catches") {
    import graft.operators.TextAnalysis
    // good1/good2 pass every Gopher gate (>= 50 words, >= 2 required
    // stopwords, alpha-heavy); bad survives EXTRACTION (block >= 25
    // chars) but fails the word-count gate — so it gets a disposition
    // row with quality_keep = false, not silently dropped
    val good1 = ("the curious engineer wrote careful notes about the " +
      "design of the system and shared them with the team ") * 3
    val good2 = ("a different author kept the draft of the report " +
      "and sent it to the editors with thanks ") * 4
    val bad = "this short block survives extraction but fails the gate"
    def html(t: String) = s"<html><body><p>${t.trim}</p></body></html>"
    val drop1 = Seq((1L, html(good1)), (2L, html(bad)), (3L, html(good1)))
      .toDF("doc_id", "html")
    val drop2 = Seq((10L, html(good1)), (11L, html(good2)),
      (12L, html(bad))).toDF("doc_id", "html")

    val inDir = Files.createTempDirectory("web-in").toFile
    val outDir = Files.createTempDirectory("web-out").toFile.getAbsolutePath
    val idxDir = Files.createTempDirectory("web-idx").toFile.getAbsolutePath
    val ckpt = Files.createTempDirectory("web-ck").toFile.getAbsolutePath
    drop1.repartition(1).write
      .parquet(new java.io.File(inDir, "drop1").getAbsolutePath)
    drop2.repartition(1).write
      .parquet(new java.io.File(inDir, "drop2").getAbsolutePath)

    val stream = Ingest.streamTable(spark,
      inDir.getAbsolutePath + "/drop*", drop1.schema,
      maxFilesPerTrigger = 1)
    val q = Ingest.startWebScreen(stream, "doc_id", "html",
      idxDir = idxDir, outDir = outDir, checkpointDir = ckpt)
    q.awaitTermination(120000)

    def norm(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "canonical", "quality_keep", "keep")
        .orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2),
          r.getBoolean(3))).toSeq
    val got = norm(Ingest.versionedRows(spark, outDir))
    assert(got == Seq(
      (1L, 1L, true, true),
      (2L, 2L, false, false), // extracted, failed the gate
      (3L, 1L, true, false), // within-batch duplicate of 1
      // 10 duplicates batch-1's doc 1: a per-batch screen would call
      // it canonical (min of ITS batch) and wrongly keep it — the
      // growing index is what catches it
      (10L, 1L, true, false),
      (11L, 11L, true, true),
      // cross-batch duplicate of the LOW-QUALITY doc: canonical
      // resolution and the quality gate are independent
      (12L, 2L, false, false)), got.mkString(", "))

    // stream == batch: qQ4's disposition over the concatenated drops
    // (same extraction kernel, same gopher gate, same keep-min rule)
    val all = drop1.unionByName(drop2)
    val ext = TextAnalysis.extractMainContent(all, "doc_id", "html")
      .where(col("n_kept") > 0)
      .select(col("doc_id"), col("content").as("text"))
    val qual = TextAnalysis.gopherRules(ext, "doc_id", "text")
      .select(col("doc_id"), col("keep").as("quality_keep"))
    val hashed = ext.select(col("doc_id"),
      md5(col("text")).as("content_hash"))
    val groups = hashed.groupBy("content_hash")
      .agg(min("doc_id").as("canonical"))
    val batch = hashed.join(groups, "content_hash").join(qual, "doc_id")
      .select(col("doc_id"), col("canonical"), col("quality_keep"),
        (col("quality_keep") && col("doc_id") === col("canonical"))
          .as("keep"))
    assert(got == norm(batch))

    // the standing index holds one row per DISTINCT content hash with
    // the global-min canonical; decisions are one versioned dir per
    // batch (exactly-once layout)
    val idx = Ingest.standingIndex(spark, idxDir).get
    assert(idx.count() == 3)
    assert(idx.select("canonical").orderBy("canonical").collect()
      .map(_.getLong(0)).toSeq == Seq(1L, 2L, 11L))
    assert(new java.io.File(outDir).listFiles()
      .count(_.getName.startsWith("v_")) == 2)
  }

  test("layered standing index: per-batch written bytes scale with the " +
    "batch (not the index), replay appends nothing, compaction folds " +
    "the layers back to one base") {
    import graft.streaming.Ingest
    val dir = Files.createTempDirectory("layer-idx").toFile.getAbsolutePath
    def rows(lo: Long, hi: Long) =
      spark.range(lo, hi).select(col("id"), (col("id") * 2).as("payload"))
    def vdirs = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("v_")).sortBy(_.getName)
    def bytes(f: java.io.File): Long =
      f.listFiles().filter(_.isFile).map(_.length()).sum

    // batch 0: the 50k-row seed becomes the base layer
    Ingest.appendVersioned(spark, dir, 0L, rows(0, 50000), compactEvery = 3)
    assert(vdirs.map(_.getName).toSeq == Seq(f"v_${0L}%020db"))
    val baseBytes = bytes(vdirs.head)

    // batches 1-2: 10-row deltas -- the WRITE BOUND: each delta dir is
    // a tiny fraction of the standing index (the old single-version
    // layout rewrote all 50k rows per batch)
    Ingest.appendVersioned(spark, dir, 1L, rows(50000, 50010), 3)
    Ingest.appendVersioned(spark, dir, 2L, rows(50010, 50020), 3)
    val deltas = vdirs.filter(_.getName.endsWith("d"))
    assert(deltas.length == 2)
    deltas.foreach { d =>
      assert(bytes(d) < baseBytes / 20,
        s"delta ${d.getName} wrote ${bytes(d)} B vs base $baseBytes B " +
          "-- per-batch I/O is scaling with the index, not the batch")
    }
    assert(Ingest.standingIndex(spark, dir).get.count() == 50020)

    // foreachBatch crash-replay of batch 2: a replayed batch whose
    // layer exists appends NOTHING (different rows on purpose -- they
    // must not land)
    Ingest.appendVersioned(spark, dir, 2L, rows(900000, 900100), 3)
    assert(Ingest.standingIndex(spark, dir).get.count() == 50020)
    assert(vdirs.length == 3)

    // batch 3 is the compactEvery-th layer: base + 2 deltas + fresh fold into
    // ONE new base and the superseded layers are deleted
    Ingest.appendVersioned(spark, dir, 3L, rows(50020, 50030), 3)
    assert(vdirs.map(_.getName).toSeq == Seq(f"v_${3L}%020db"))
    val standing = Ingest.standingIndex(spark, dir).get
    assert(standing.count() == 50030)
    assert(standing.agg(sum(col("id"))).head.getLong(0)
      == (0L until 50030L).sum)
  }

  test("size-ratio compaction: a backfill-sized delta trips the fold " +
    "before the count threshold; small deltas and sub-floor bases " +
    "stay count-based") {
    import graft.streaming.Ingest
    def rows(lo: Long, hi: Long) =
      spark.range(lo, hi).select(col("id"), (col("id") * 3).as("payload"))
    def census(dir: String) = new java.io.File(dir).listFiles()
      .map(_.getName).filter(_.startsWith("v_")).sorted.toSeq

    // floor lowered to 1 byte so the ratio is live at unit scale
    val dir = Files.createTempDirectory("lsm").toFile.getAbsolutePath
    Ingest.appendVersioned(spark, dir, 0L, rows(0, 50000), 99,
      sizePolicyMinBase = 1L)
    // small delta, well under frac x base: stays a delta
    Ingest.appendVersioned(spark, dir, 1L, rows(50000, 50100), 99,
      sizePolicyMinBase = 1L)
    assert(census(dir).count(_.endsWith("d")) == 1)
    // a backfill-sized batch lands as a (large) delta — the ratio
    // check sees COMMITTED deltas, so the trip happens on the NEXT
    // append, which folds everything despite compactEvery = 99
    Ingest.appendVersioned(spark, dir, 2L, rows(60000, 160000), 99,
      sizePolicyMinBase = 1L)
    assert(census(dir).count(_.endsWith("d")) == 2)
    Ingest.appendVersioned(spark, dir, 3L, rows(200000, 200010), 99,
      sizePolicyMinBase = 1L)
    assert(census(dir) == Seq("v_00000000000000000003b"),
      census(dir).toString)
    assert(Ingest.standingIndex(spark, dir).get.count() ==
      50000 + 100 + 100000 + 10)

    // the DEFAULT floor (64 MB): the same pattern at unit scale is
    // metadata-dominated, the ratio stays out of it, count rules
    val dir2 = Files.createTempDirectory("lsm2").toFile.getAbsolutePath
    Ingest.appendVersioned(spark, dir2, 0L, rows(0, 50000), 99)
    Ingest.appendVersioned(spark, dir2, 1L, rows(50000, 50100), 99)
    Ingest.appendVersioned(spark, dir2, 2L, rows(60000, 160000), 99)
    Ingest.appendVersioned(spark, dir2, 3L, rows(200000, 200010), 99)
    assert(census(dir2).count(_.endsWith("d")) == 3, census(dir2).toString)
  }

  test("describeIndex: one row per committed object with kind/live/" +
    "bytes; stats follow the live base; stale layers read live=false") {
    import graft.streaming.Ingest
    val dir = Files.createTempDirectory("describe").toFile.getAbsolutePath
    def bandRows(band: Long, n: Int, off: Long) =
      (0 until n).map(i => (off + i, 1000L + off + i, 0, band))
        .toDF("doc_id", "code", "band_idx", "band_val")
    Ingest.appendVersioned(spark, dir, 0L, bandRows(7L, 6, 0), 99)
    Ingest.appendVersioned(spark, dir, 1L, bandRows(9L, 3, 100), 99)
    Ingest.hotBandList(spark, dir, 5) // writes the v_0 stats sidecar
    val d = Ingest.describeIndex(spark, dir)
      .collect().map(r => (r.getString(1), r.getLong(2),
        r.getBoolean(3), r.getLong(4))).sortBy(x => (x._1, x._2))
    assert(d.map(x => (x._1, x._2, x._3)).toSeq ==
      Seq(("base", 0L, true), ("delta", 1L, true), ("stats", 0L, true)),
      d.mkString(", "))
    assert(d.forall(_._4 > 0), "every committed object has bytes")
    // compaction supersedes: a fresh describe shows ONE live base and
    // the old stats (now describing a dead base id) as live=false
    Ingest.appendVersioned(spark, dir, 2L, bandRows(1L, 1, 200), 2)
    val d2 = Ingest.describeIndex(spark, dir)
      .collect().map(r => (r.getString(1), r.getLong(2), r.getBoolean(3)))
    assert(d2.toSet == Set(("base", 2L, true), ("stats", 0L, false)),
      d2.mkString(", "))
  }

  test("layered index crash windows: a stale pre-base state (old base " +
    "+ old delta left by a mid-compaction crash) is invisible to " +
    "readers and self-healed by the next call") {
    import graft.streaming.Ingest
    val dir = Files.createTempDirectory("layer-crash").toFile.getAbsolutePath
    def rows(lo: Long, hi: Long) =
      spark.range(lo, hi).select(col("id"), (col("id") * 7).as("payload"))
    // construct the exact on-disk state a crash BETWEEN the new-base
    // rename and the old-layer deletes leaves behind: stale base v_1b,
    // stale delta v_2d, and the already-promoted new base v_3b
    rows(0, 50).write.parquet(dir + "/" + f"v_${1L}%020db")
    rows(50, 60).write.parquet(dir + "/" + f"v_${2L}%020dd")
    rows(0, 70).write.parquet(dir + "/" + f"v_${3L}%020db")
    // reader: latest base only -- the stale layers must not double rows
    assert(Ingest.standingIndex(spark, dir).get.count() == 70)
    // replay of the compaction batch self-heals the stale layers
    Ingest.appendVersioned(spark, dir, 3L, rows(900, 999), 4)
    val afterReplay = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("v_")).map(_.getName).sorted.toSeq
    assert(afterReplay == Seq(f"v_${3L}%020db"), afterReplay.mkString(", "))
    assert(Ingest.standingIndex(spark, dir).get.count() == 70)
    // and the next NEW batch appends normally on the healed state
    Ingest.appendVersioned(spark, dir, 4L, rows(70, 80), 4)
    assert(Ingest.standingIndex(spark, dir).get.count() == 80)
  }

  test("layered index migration: a legacy single-version dir parses " +
    "as the base layer -- an upgraded screen keeps its standing state") {
    import graft.streaming.Ingest
    val dir = Files.createTempDirectory("layer-mig").toFile.getAbsolutePath
    def rows(lo: Long, hi: Long) =
      spark.range(lo, hi).select(col("id"), (col("id") * 3).as("payload"))
    // the OLD mergeVersioned layout: one plain v_<batchId> dir holding
    // the full standing state of a pre-upgrade screen
    rows(0, 100).write.parquet(dir + "/" + f"v_${5L}%020d")
    val migrated = Ingest.standingIndex(spark, dir)
    assert(migrated.isDefined && migrated.get.count() == 100,
      "legacy standing state invisible after upgrade -- screen would re-seed")
    // a replayed legacy batch id appends nothing
    Ingest.appendVersioned(spark, dir, 5L, rows(900, 950), 2)
    assert(Ingest.standingIndex(spark, dir).get.count() == 100)
    // first post-upgrade batch lands as a delta ON TOP of the legacy base
    Ingest.appendVersioned(spark, dir, 6L, rows(100, 110), 2)
    assert(Ingest.standingIndex(spark, dir).get.count() == 110)
    // next batch compacts legacy + delta + fresh into the new naming
    Ingest.appendVersioned(spark, dir, 7L, rows(110, 120), 2)
    val names = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("v_")).map(_.getName).sorted.toSeq
    assert(names == Seq(f"v_${7L}%020db"), names.mkString(", "))
    val standing = Ingest.standingIndex(spark, dir).get
    assert(standing.count() == 120)
    assert(standing.agg(sum(col("id"))).head.getLong(0)
      == (0L until 120L).sum)
  }

  test("streaming MinHash dedup screen with a GROWING band index: " +
    "cross-batch duplicate caught, stream == composed batch screens, " +
    "delta layers hold only each batch's own band rows") {
    import graft.operators.Dedup
    import graft.streaming.Ingest
    val a = "the quick brown fox jumps over the lazy dog near the " +
      "river bank while the sun sets slowly behind the old stone bridge"
    val b = "completely different content about compilers and type " +
      "systems that shares nothing with the fox sentence at all today"
    val c = "a third document describing the migration of monarch " +
      "butterflies across the continent in early autumn every year"
    val d = "yet another unrelated text on the economics of container " +
      "shipping routes and the ports that serve them through winter"
    val seed = Seq((0L, a), (1L, b)).toDF("doc_id", "text")
    val drop1 = Seq((10L, a), (11L, c)).toDF("doc_id", "text")
    val drop2 = Seq((20L, c), (21L, d)).toDF("doc_id", "text")

    val inDir = Files.createTempDirectory("mh-in").toFile
    val outDir = Files.createTempDirectory("mh-out").toFile.getAbsolutePath
    val idxDir = Files.createTempDirectory("mh-idx").toFile.getAbsolutePath
    val ckpt = Files.createTempDirectory("mh-ck").toFile.getAbsolutePath
    drop1.repartition(1).write
      .parquet(new java.io.File(inDir, "drop1").getAbsolutePath)
    drop2.repartition(1).write
      .parquet(new java.io.File(inDir, "drop2").getAbsolutePath)

    val (sn, bands, rpb, t) = (3, 8, 4, 0.5)
    val seedIndex = Dedup.lshBandIndex(seed, "doc_id", "text", sn,
      bands, rpb).localCheckpoint()
    val stream = Ingest.streamTable(spark,
      inDir.getAbsolutePath + "/drop*", drop1.schema,
      maxFilesPerTrigger = 1)
    val q = Ingest.startMinhashScreen(stream, "doc_id", "text",
      seedIndex, sn, bands, rpb, t, idxDir, outDir, ckpt)
    q.awaitTermination(120000)

    def norm(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "is_dup", "dup_of").orderBy("doc_id")
        .collect()
        .map(r => (r.getLong(0), r.getBoolean(1),
          Option(r.get(2)).map(_.asInstanceOf[Long]))).toSeq
    val got = norm(Ingest.versionedRows(spark, outDir))
    // 20 ~ 11 is the cross-batch pair the static-seed screen misses
    assert(got == Seq(
      (10L, true, Some(0L)), (11L, false, None),
      (20L, true, Some(11L)), (21L, false, None)), got.mkString(", "))

    // stream == composed batch screens on the one implementation
    val batch = Dedup.screenAgainstIndex(drop1, "doc_id", "text",
        seedIndex, sn, bands, rpb, t)
      .unionByName(Dedup.screenAgainstIndex(drop2, "doc_id", "text",
        seedIndex.unionByName(Dedup.lshBandIndex(drop1, "doc_id",
          "text", sn, bands, rpb)), sn, bands, rpb, t))
    assert(got == norm(batch.withColumn("batch_id", lit(0L))
      .drop("batch_id")))

    // standing index = seed + both drops' band rows; batch 1's layer is
    // a DELTA holding only its own rows (the bounded-merge contract)
    assert(Ingest.standingIndex(spark, idxDir).get.count() ==
      seedIndex.count() + 4 * bands)
    val layerDirs = new java.io.File(idxDir).listFiles()
      .filter(_.getName.startsWith("v_")).map(_.getName).sorted
    assert(layerDirs.head.endsWith("b") && layerDirs.last.endsWith("d"),
      layerDirs.mkString(", "))
    assert(spark.read.parquet(idxDir + "/" + layerDirs.last).count()
      == 2 * bands)
  }

  test("ANN screen index rotation: compaction re-buckets under a grown " +
    "plane count, occupancy stays bounded, and an already-seen vector " +
    "still screens as a duplicate across the rotation") {
    import graft.operators.{Dedup, Similarity}
    import graft.streaming.Ingest
    // one-hot 64-dim vectors: distinct ids are orthogonal (cosine 0),
    // planted duplicates are exact copies (cosine 1) -- decisions are
    // deterministic at any plane count
    def oneHot(dim: Int): Seq[Float] =
      (0 until 64).map(i => if (i == dim) 1.0f else 0.0f)
    val seed = (0 until 4).map(i => (i.toLong, oneHot(i)))
      .toDF("vec_id", "embedding")
    def drop(ids: Range, dims: Range, extra: (Long, Int)*) =
      (ids.zip(dims).map { case (id, dm) => (id.toLong, oneHot(dm)) } ++
        extra.map { case (id, dm) => (id, oneHot(dm)) })
        .toDF("vec_id", "embedding")
    // drop1: 12 new + a copy of seed vector 0
    val drop1 = drop(10 until 22, 4 until 16, 22L -> 0)
    // drop2: 12 new + a copy of drop1's vector 10 (dim 4)
    val drop2 = drop(30 until 42, 16 until 28, 42L -> 4)
    // drop3: 12 new + another copy of seed vector 0
    val drop3 = drop(50 until 62, 28 until 40, 62L -> 0)
    // drop4 arrives AFTER the rotation: a copy of drop1's vector 11
    // (dim 5) must still be caught by the re-bucketed index
    val drop4 = drop(70 until 76, 40 until 46, 76L -> 5)

    val inDir = Files.createTempDirectory("rot-in").toFile
    val outDir = Files.createTempDirectory("rot-out").toFile.getAbsolutePath
    val idxDir = Files.createTempDirectory("rot-idx").toFile.getAbsolutePath
    val ckpt = Files.createTempDirectory("rot-ck").toFile.getAbsolutePath
    for ((d, i) <- Seq(drop1, drop2, drop3, drop4).zipWithIndex)
      d.repartition(1).write
        .parquet(new java.io.File(inDir, s"drop$i").getAbsolutePath)

    val targetBucket = 2
    val seedPlanes = Similarity.adaptivePlanes(4, targetBucket)
    val seedIndex = Dedup.embeddingLshIndex(seed, "vec_id", "embedding",
      seedPlanes).localCheckpoint()
    val stream = Ingest.streamTable(spark,
      inDir.getAbsolutePath + "/drop*", drop1.schema,
      maxFilesPerTrigger = 1)
    val q = Ingest.startAnnScreen(stream, "vec_id", "embedding",
      seedIndex, seedPlanes, threshold = 0.9, idxDir = idxDir,
      outDir = outDir, checkpointDir = ckpt, compactEvery = 2,
      targetBucket = targetBucket)
    q.awaitTermination(240000)

    // the rotation happened: the base layer's generation tag grew with
    // the corpus (adaptivePlanes of the final count, not the seed's)
    val planesNow = Ingest.standingIndexPlanes(spark, idxDir).get
    assert(planesNow > seedPlanes,
      s"planes never rotated: seed $seedPlanes, now $planesNow")
    val standing = Ingest.standingIndex(spark, idxDir).get
    val n = standing.count()
    assert(n == 4 + 13 + 13 + 13 + 7)
    // bounded occupancy: the rotated bucket function keeps the largest
    // bucket near the adaptive target, not proportional to n
    val maxOcc = standing.groupBy("bucket").count()
      .agg(max("count")).head.getLong(0)
    assert(maxOcc <= 8L * targetBucket,
      s"max bucket occupancy $maxOcc for n=$n at planes=$planesNow")
    // the standing index is fully re-bucketed under ONE generation:
    // every identical-vector pair shares a bucket (here, none left as
    // dups -- check instead that the planted copies matched)
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id", "is_dup", "match_id").collect()
        .map(r => r.getLong(0) -> ((r.getBoolean(1),
          Option(r.get(2)).map(_.asInstanceOf[Long])))).toMap
    val dec = norm(Ingest.versionedRows(spark, outDir))
    assert(dec(22L) == ((true, Some(0L))))   // batch 0 vs seed
    assert(dec(42L) == ((true, Some(10L)))) // batch 1 vs batch 0
    assert(dec(62L) == ((true, Some(0L))))   // batch 2 vs seed
    // batch 3 probes AFTER the rotation -- the re-bucketed index must
    // still surface the already-seen vector
    assert(dec(76L) == ((true, Some(11L))))
    // and the orthogonal ids never matched anything
    assert(Seq(10L, 11L, 30L, 50L, 70L).forall(id => !dec(id)._1))
  }

  test("legacySQL lineage deploy: make_views.sh's _legacysql names, " +
    "datasets and order; the exhaustive comma-union carries both eras " +
    "(prefix quirk observable) and loses no base row") {
    import graft.catalog.LegacyViews
    val names = LegacyViews.deploy(spark, "/root/testdata/sf0.001")
    assert(names == Seq(
      "legacy.ndt_plx_legacysql",
      "intermediate_v3_1_1.common_etl_legacysql",
      "intermediate_v3_1_1.ndt_exhaustive_legacysql",
      "intermediate_v3_1_1.ndt_all_legacysql",
      "intermediate_v3_1_1.ndt_sensible_legacysql",
      "intermediate_v3_1_1.ndt_downloads_legacysql",
      "intermediate_v3_1_1.ndt_uploads_legacysql",
      "rc_v3_1.ndt_all_legacysql", "rc_v3_1.ndt_downloads_legacysql",
      "rc_v3_1.ndt_uploads_legacysql",
      "release.ndt_all_legacysql", "release.ndt_downloads_legacysql",
      "release.ndt_uploads_legacysql"), names.toString)
    // every deployed name resolves to a queryable view
    names.foreach(n => spark.table(n).schema)
    // the comma-union view holds BOTH eras: the ETL face carries the
    // script's re-added hostname prefix, the PLX face does not
    val ex = spark.table("intermediate_v3_1_1.ndt_exhaustive_legacysql")
    val post = ex.filter(col("site").startsWith("ndt.iupui.")).count()
    val pre = ex.count() - post
    assert(pre > 0 && post > 0, s"eras pre=$pre post=$post")
    // positional comma-union loses nothing: exhaustive == the base
    // web100 row set (the eras partition it)
    assert(ex.count() == spark.table("base_tables.ndt").count())
    // the public alias resolves the whole six-view stack
    assert(spark.table("release.ndt_downloads_legacysql")
      .columns.toSeq == Seq("test_id", "partition_date", "direction",
        "mbps", "min_rtt", "site", "country_code"))
  }

  test("standardSQL lineage deploy: make_views.sh's plain names, " +
    "datasets and order; named-view source mapping; the faithful " +
    "dialect differences vs the legacy twin (era WHERE and PLX union " +
    "commented out => all rows, prefix on every row)") {
    import graft.catalog.{LegacyViews, StandardViews}
    val names = StandardViews.deploy(spark, "/root/testdata/sf0.001")
    assert(names == Seq(
      "legacy.ndt_plx",
      "intermediate_v3_1_1.common_etl",
      "intermediate_v3_1_1.ndt_exhaustive",
      "intermediate_v3_1_1.ndt_all",
      "intermediate_v3_1_1.ndt_sensible",
      "intermediate_v3_1_1.ndt_downloads",
      "intermediate_v3_1_1.ndt_uploads",
      "rc_v3_1.ndt_all", "rc_v3_1.ndt_downloads", "rc_v3_1.ndt_uploads",
      "release.ndt_all", "release.ndt_downloads",
      "release.ndt_uploads"), names.toString)
    names.foreach(n => spark.table(n).schema)
    // create_named_views.sh's mapping surface: global.sidestream is
    // created as the bare pass-through; ndt.web100 already belongs to
    // the 79-view manifest (the richer annotated body) and is LEFT in
    // place — clobbering it would repoint the deployed unified chain
    val mapped = StandardViews.createNamedViews(spark)
    assert(mapped.map(t => (t._1, t._3)) == Seq(
      ("ndt.web100", false), ("global.sidestream", false)))
    assert(spark.table("global.sidestream").count() ==
      spark.table("base_tables.sidestream").count())
    assert(spark.table("ndt.web100").columns.contains("ann_value"),
      "manifest's annotated ndt.web100 must survive the named deploy")
    // faithful dialect difference #1: standard common_etl has the era
    // WHERE commented out — ALL web100 rows, prefix on EVERY row
    val ce = spark.table("intermediate_v3_1_1.common_etl")
    assert(ce.count() == spark.table("base_tables.ndt").count())
    assert(ce.filter(!col("site").startsWith("ndt.iupui.")).count() == 0)
    // faithful dialect difference #2: standard ndt_exhaustive carries
    // the PLX union inside a block comment — common_etl rows only,
    // while the legacy twin serves both eras distinctly
    val ex = spark.table("intermediate_v3_1_1.ndt_exhaustive")
    assert(ex.count() == ce.count())
    LegacyViews.deploy(spark, "/root/testdata/sf0.001")
    val legacyEx =
      spark.table("intermediate_v3_1_1.ndt_exhaustive_legacysql")
    assert(legacyEx.filter(!col("site").startsWith("ndt.iupui."))
      .count() > 0, "legacy twin keeps an unprefixed PLX era")
    // ndt_plx is deployed-but-unreferenced, exactly as the script
    // leaves it: the standard UNION ALL still resolves and carries
    // the two bottom-era row sets
    val plx = spark.table("legacy.ndt_plx")
    assert(plx.count() == spark.table("legacy.ndt").count() +
      spark.table("legacy.ndt_pre2015").count())
    // the public alias resolves the whole stack
    assert(spark.table("release.ndt_uploads").columns.toSeq ==
      Seq("test_id", "partition_date", "direction", "mbps", "min_rtt",
        "site", "country_code"))
  }

  test("registerBase ownership: a second session repointing the shared " +
    "base-table binding to a DIFFERENT sfDir fails fast; same-dir " +
    "rebind stays a no-op and takeOver hands over deliberately") {
    import graft.catalog.ReferenceViews
    ReferenceViews.registerBase(spark, "/root/testdata/sf0.001")
    // same dir from another session: idempotent rebind, allowed (the
    // weak-key memo test's single-metastore contract)
    val s2 = spark.newSession()
    ReferenceViews.registerBase(s2, "/root/testdata/sf0.001")
    // DIFFERENT dir from yet another session: would repoint s2's
    // binding under it — the r13 verdict's multi-tenant hazard
    val s3 = spark.newSession()
    val ex = intercept[IllegalStateException] {
      ReferenceViews.registerBase(s3, "/root/testdata/sf0.01")
    }
    assert(ex.getMessage.contains("takeOver"))
    ReferenceViews.registerBase(s3, "/root/testdata/sf0.01",
      takeOver = true)
    // restore the suite's binding (ownership moved to s3, so the
    // original session now needs the same deliberate hand-over)
    intercept[IllegalStateException] {
      ReferenceViews.registerBase(spark, "/root/testdata/sf0.001")
    }
    ReferenceViews.registerBase(spark, "/root/testdata/sf0.001",
      takeOver = true)
  }

  test("deploy memo is weak-keyed: a dead session's entry is " +
    "collectable (no session leak in a long-lived multi-session driver)") {
    import graft.catalog.ReferenceViews
    var s2 = spark.newSession()
    // same sfDir as the sibling deploy test: the catalog objects are
    // shared (single-metastore contract), so re-binding is a no-op
    ReferenceViews.deploy(s2, "/root/testdata/sf0.001")
    // the memo as it stands with this test's own entry in it: other
    // tests' dropped sessions may be collected in the loop below too,
    // so only a size below this one is adjudicated
    val withOwn = ReferenceViews.memoSize
    assert(withOwn >= 1)
    val ref = new java.lang.ref.WeakReference(s2)
    org.apache.spark.sql.SparkSession.clearActiveSession()
    s2 = null
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (ref.get != null && System.nanoTime() < deadline) {
      System.gc()
      Thread.sleep(100)
    }
    // WeakReference clearing on System.gc() is not guaranteed by spec
    // (-XX:+DisableExplicitGC, deferred old-gen cycles): if the JVM
    // declined to collect we cannot adjudicate either way -- CANCEL
    // rather than fail, so a hardening profile does not redden the
    // suite. When the session IS collected, the memo entry must be
    // gone.
    if (ref.get != null)
      cancel("JVM did not collect the dropped session within 30s -- " +
        "weak-keying unverifiable on this GC profile")
    assert(ReferenceViews.memoSize < withOwn,
      "WeakHashMap kept the dead session's memo entry")
  }

  test("broadcast-probe screens: decisions bit-equal to the shuffle " +
    "variant and the standing index stays shuffle-free in the plan") {
    import graft.operators.Dedup
    def shuffles(df: org.apache.spark.sql.DataFrame): Int =
      "Exchange hashpartitioning".r
        .findAllIn(df.queryExecution.executedPlan.toString).length
    def bhj(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.executedPlan.toString.contains("BroadcastHashJoin")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq

    // embedding screen
    def vec(d: Int) = (0 until 8).map(i => if (i == d) 1.0f else 0.0f)
    val corpus = (0 until 40).map(i => (i.toLong, vec(i % 8)))
      .toDF("vec_id", "embedding")
    val batchV = Seq((100L, vec(0)), (101L, vec(3)))
      .toDF("vec_id", "embedding")
    val eIdx = Dedup.embeddingLshIndex(corpus, "vec_id", "embedding", 3)
      .localCheckpoint()
    val eFresh = Dedup.embeddingLshIndex(batchV, "vec_id", "embedding", 3)
      .localCheckpoint()
    val eIds = batchV.select(col("vec_id"))
    val eB = Dedup.embeddingLshScreenOnIndex(eFresh, eIds, eIdx, 0.9,
      broadcastProbe = true)
    val eS = Dedup.embeddingLshScreenOnIndex(eFresh, eIds, eIdx, 0.9)
    assert(rows(eB) == rows(eS))
    assert(bhj(eB) && shuffles(eB) < shuffles(eS),
      s"embedding screen: ${shuffles(eB)} !< ${shuffles(eS)}")

    // minhash screen
    val texts = (0 until 20).map(i => (i.toLong,
      s"document number $i speaks about topic ${i % 5} in long and " +
        s"winding sentences that continue for a while item$i"))
      .toDF("doc_id", "text")
    val batchT = Seq((100L, texts.collect()(3).getString(1)),
      (101L, "completely novel content nothing shared with anything"))
      .toDF("doc_id", "text")
    val mIdx = Dedup.lshBandIndex(texts, "doc_id", "text", 3, 4, 2)
      .localCheckpoint()
    val mFresh = Dedup.lshBandIndex(batchT, "doc_id", "text", 3, 4, 2)
      .localCheckpoint()
    val mIds = batchT.select(col("doc_id"))
    val mB = Dedup.screenAgainstIndexRows(mFresh, mIds, mIdx, 0.5,
      broadcastProbe = true)
    val mS = Dedup.screenAgainstIndexRows(mFresh, mIds, mIdx, 0.5)
    assert(rows(mB) == rows(mS))
    assert(bhj(mB) && shuffles(mB) < shuffles(mS),
      s"minhash screen: ${shuffles(mB)} !< ${shuffles(mS)}")

    // dhash screen
    val codes = (0 until 30).map(i => (i.toLong, (i * 77L) ^ 0x5a5aL))
      .toDF("doc_id", "dhash")
    val batchC = Seq((100L, (3L * 77L) ^ 0x5a5aL), (101L, 0x7fffL))
      .toDF("doc_id", "dhash")
    val cIdx = Dedup.codeBandIndex(codes, "doc_id", "dhash", 56, 7)
      .localCheckpoint()
    val cB = Dedup.codeHammingScreen(batchC, "doc_id", "dhash", cIdx,
      56, 6, 7, maxPosting = 12, broadcastProbe = true)
    val cS = Dedup.codeHammingScreen(batchC, "doc_id", "dhash", cIdx,
      56, 6, 7, maxPosting = 12)
    assert(rows(cB) == rows(cS))
    assert(bhj(cB) && shuffles(cB) < shuffles(cS),
      s"dhash screen: ${shuffles(cB)} !< ${shuffles(cS)}")
  }

  test("broadcast-probe runtime bound: a batch past broadcastMaxRows " +
    "falls back to the shuffle plan in ALL FOUR screens (no forced " +
    "broadcast of a corpus-scale probe) with bit-equal decisions") {
    import graft.operators.{Dedup, Multimodal}
    import graft.streaming.Ingest

    // the only broadcast join that can appear below is the explicit
    // probe hint: auto-broadcast is disabled for the duration so tiny
    // test frames don't add their own
    val abt = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      // one harness for all four: `start` launches the screen into the
      // given root with the given bound; run once unbounded (control —
      // the probe hint must fire) and once with bound 0 (every batch
      // is "past the bound", the corpus-scale backfill shape); the
      // guard must kill the broadcast, not the decisions
      def check(label: String, writeDrops: String => Unit,
          start: (String, Long) => org.apache.spark.sql.streaming.StreamingQuery)
          : Unit = {
        def run(maxRows: Long): (Seq[String], Seq[String]) = {
          val root = Files.createTempDirectory(s"bb-$label").toFile
            .getAbsolutePath
          writeDrops(root)
          var out = Seq.empty[String]
          val plans = capturePlans {
            val q = start(root, maxRows)
            q.awaitTermination(120000)
            out = Ingest.versionedRows(spark, s"$root/out")
              .drop("batch_id").collect().map(_.toString).sorted.toSeq
          }
          (out, plans)
        }
        val (dB, pB) = run(Long.MaxValue)
        val (dG, pG) = run(0L)
        assert(dB.nonEmpty && dB == dG, s"$label: decisions drifted")
        assert(pB.exists(_.contains("BroadcastHashJoin")),
          s"$label: control run never broadcast the probe")
        assert(!pG.exists(_.contains("BroadcastHashJoin")),
          s"$label: bound exceeded but a broadcast still fired")
      }

      // web screen: two drops so batch 2 probes a standing index
      def html(t: String) = s"<html><body><p>$t</p></body></html>"
      val wText = ("the quick brown fox jumped over the lazy dog and " +
        "kept running through the quiet field all afternoon ") * 3
      check("web",
        root => {
          (0 until 6).map(i => (i.toLong, html(wText + s" marker $i")))
            .toDF("doc_id", "html").repartition(1)
            .write.parquet(s"$root/in/d0")
          Seq((100L, html(wText + " marker 3")),
            (101L, html(wText + " fresh tail")))
            .toDF("doc_id", "html").repartition(1)
            .write.parquet(s"$root/in/d1")
        },
        (root, maxRows) => Ingest.startWebScreen(
          Ingest.streamTable(spark, s"$root/in/d*",
            spark.read.parquet(s"$root/in/d0").schema,
            maxFilesPerTrigger = 1),
          "doc_id", "html", s"$root/idx", s"$root/out", s"$root/ck",
          broadcastMaxRows = maxRows))

      // minhash screen (seed index + one drop)
      val texts = (0 until 12).map(i => (i.toLong,
        s"document number $i speaks about topic ${i % 4} in long " +
          s"winding sentences that continue for a while item$i"))
        .toDF("doc_id", "text")
      val mSeed = Dedup.lshBandIndex(texts, "doc_id", "text", 3, 4, 2)
        .localCheckpoint()
      check("minhash",
        root => Seq((100L, texts.collect()(3).getString(1)),
            (101L, "completely novel content nothing shared at all"))
          .toDF("doc_id", "text").repartition(1)
          .write.parquet(s"$root/in/d0"),
        (root, maxRows) => Ingest.startMinhashScreen(
          Ingest.streamTable(spark, s"$root/in/d*",
            spark.read.parquet(s"$root/in/d0").schema,
            maxFilesPerTrigger = 1),
          "doc_id", "text", mSeed, 3, 4, 2, 0.5,
          s"$root/idx", s"$root/out", s"$root/ck",
          broadcastMaxRows = maxRows))

      // ANN screen (seed index + one drop)
      def vec(d: Int) = (0 until 8).map(i => if (i == d) 1.0f else 0.0f)
      val corpusV = (0 until 24).map(i => (i.toLong, vec(i % 8)))
        .toDF("vec_id", "embedding")
      val aSeed = Dedup.embeddingLshIndex(corpusV, "vec_id", "embedding", 3)
        .localCheckpoint()
      check("ann",
        root => Seq((100L, vec(0)), (101L, vec(5)))
          .toDF("vec_id", "embedding").repartition(1)
          .write.parquet(s"$root/in/d0"),
        (root, maxRows) => Ingest.startAnnScreen(
          Ingest.streamTable(spark, s"$root/in/d*",
            spark.read.parquet(s"$root/in/d0").schema,
            maxFilesPerTrigger = 1),
          "vec_id", "embedding", aSeed, 3, 0.9,
          s"$root/idx", s"$root/out", s"$root/ck",
          broadcastMaxRows = maxRows))

      // media screen (seed index + one drop of deterministic P5
      // images — the shared TestImages generator)
      def p5(seed: Int): Array[Byte] = TestImages.p5(seed.toLong)
      def mediaRows(rows: (Long, Int)*) = rows.map { case (id, s) =>
        val b = p5(s); (id, b, "image/x-portable-graymap", b.length.toLong)
      }.toDF("doc_id", "media", "mime", "n_bytes")
      val cSeed = Dedup.codeBandIndex(
        Multimodal.dhashImages(mediaRows(0L -> 1, 1L -> 2)).toDF(),
        "doc_id", "dhash", 56, 7).localCheckpoint()
      check("media",
        root => mediaRows(100L -> 1, 101L -> 5).repartition(1)
          .write.parquet(s"$root/in/d0"),
        (root, maxRows) => Ingest.startMediaScreen(
          Ingest.streamTable(spark, s"$root/in/d*",
            spark.read.parquet(s"$root/in/d0").schema,
            maxFilesPerTrigger = 1),
          cSeed, 56, 6, 7, maxPosting = 0,
          idxDir = s"$root/idx", outDir = s"$root/out",
          checkpointDir = s"$root/ck", broadcastMaxRows = maxRows))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", abt)
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    }
  }

  test("static dedup screen honors the broadcast bound: a batch past " +
    "broadcastMaxRows falls back to the shuffle plan with bit-equal " +
    "decisions (the backfill-in-one-batch shape reaches this screen " +
    "too)") {
    import graft.operators.Dedup
    import graft.streaming.Ingest
    val abt = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      val texts = (0 until 12).map(i => (i.toLong,
        s"document number $i speaks about topic ${i % 4} in long " +
          s"winding sentences that continue for a while item$i"))
        .toDF("doc_id", "text")
      val idx = Dedup.lshBandIndex(texts, "doc_id", "text", 3, 4, 2)
        .localCheckpoint()
      def run(maxRows: Long): (Seq[String], Seq[String]) = {
        val root = Files.createTempDirectory("sb").toFile.getAbsolutePath
        Seq((100L, texts.collect()(3).getString(1)),
            (101L, "completely novel content nothing shared at all"))
          .toDF("doc_id", "text").repartition(1)
          .write.parquet(s"$root/in/d0")
        var out = Seq.empty[String]
        val plans = capturePlans {
          val q = Ingest.startDedupScreen(
            Ingest.streamTable(spark, s"$root/in/d*",
              spark.read.parquet(s"$root/in/d0").schema),
            idx, "doc_id", "text", 3, 4, 2, 0.5,
            s"$root/out", s"$root/ck", broadcastProbe = true,
            broadcastMaxRows = maxRows)
          q.awaitTermination(120000)
          out = Ingest.versionedRows(spark, s"$root/out")
            .collect().map(_.toString).sorted.toSeq
        }
        (out, plans)
      }
      val (dB, pB) = run(Long.MaxValue)
      val (dG, pG) = run(0L)
      assert(dB.nonEmpty && dB == dG, "static screen decisions drifted")
      assert(pB.exists(_.contains("BroadcastHashJoin")),
        "control run never broadcast the probe")
      assert(!pG.exists(_.contains("BroadcastHashJoin")),
        "bound exceeded but a broadcast still fired")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", abt)
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    }
  }

  test("capped minhash screen: hot shingle bands past maxPosting are " +
    "excluded via the compaction sidecar (one index scan per trigger), " +
    "bit-equal to the per-call aggregation; boilerplate copies stop " +
    "fanning the probe join out") {
    import graft.operators.Dedup
    import graft.streaming.Ingest
    val boiler = "this exact boilerplate paragraph repeats verbatim " +
      "across the whole crawl navigation header footer copyright " +
      "notice subscribe newsletter cookie banner"
    def distinctDoc(i: Long) =
      s"document number $i speaks about topic ${i % 4} in long " +
        s"winding sentences that continue for a while item$i"
    // 8 boilerplate copies: every one of their band keys has posting
    // 8 > cap 5; 4 distinct docs keep posting 1
    val seed = ((0 until 8).map(i => (i.toLong, boiler)) ++
      (10 until 14).map(i => (i.toLong, distinctDoc(i))))
      .toDF("doc_id", "text")
    val seedIdx = Dedup.lshBandIndex(seed, "doc_id", "text", 3, 4, 2)
      .localCheckpoint()
    val drop1 = Seq((100L, distinctDoc(11)), // dup of a distinct doc
      (101L, boiler),                        // boilerplate copy
      (102L, "entirely novel content nothing shared with anything " +
        "else in this corpus at all")).toDF("doc_id", "text")
    val drop2 = Seq((200L, drop1.collect()(2).getString(1)))
      .toDF("doc_id", "text")                // cross-batch dup of 102
    val root = Files.createTempDirectory("mh-cap").toFile.getAbsolutePath
    drop1.repartition(1).write.parquet(s"$root/in/d0")
    drop2.repartition(1).write.parquet(s"$root/in/d1")
    val cap = 5
    val q = Ingest.startMinhashScreen(
      Ingest.streamTable(spark, s"$root/in/d*", drop1.schema,
        maxFilesPerTrigger = 1),
      "doc_id", "text", seedIdx, 3, 4, 2, 0.5,
      s"$root/idx", s"$root/out", s"$root/ck", compactEvery = 2,
      maxPosting = cap)
    q.awaitTermination(120000)
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "is_dup", "dup_of").orderBy("doc_id")
        .collect().map(r => (r.getLong(0), r.getBoolean(1),
          Option(r.get(2)).map(_.asInstanceOf[Long]))).toSeq
    val got = norm(Ingest.versionedRows(spark, s"$root/out"))
    // 100 matches its distinct twin; 101's bands are ALL capped-hot
    // (graceful recall on exactly the boilerplate); 102 novel; 200
    // matches drop1's 102 — the growing-index property
    assert(got == Seq(
      (100L, true, Some(11L)), (101L, false, None),
      (102L, false, None), (200L, true, Some(102L))), got.toString)
    // bit-equal to the composed batch screens with the PER-CALL
    // aggregation at the same cap
    val b1 = Dedup.lshBandIndex(drop1, "doc_id", "text", 3, 4, 2)
    val batch = Dedup.screenAgainstIndexRows(
      b1, drop1.select(col("doc_id")), seedIdx, 0.5, maxPosting = cap)
      .unionByName(Dedup.screenAgainstIndexRows(
        Dedup.lshBandIndex(drop2, "doc_id", "text", 3, 4, 2),
        drop2.select(col("doc_id")), seedIdx.unionByName(b1), 0.5,
        maxPosting = cap))
    assert(got == norm(batch))
    // the seeding compaction wrote the sidecar (eager refresh), under
    // the minhash band column
    assert(new java.io.File(s"$root/idx").listFiles()
      .exists(_.getName.matches(s"""v_\\d{20}s_c$cap""")),
      "capped minhash screen left no hot-band sidecar")
    // one index scan per trigger: the hot list reads sidecar + deltas,
    // never the base band rows
    val baseDirName = new java.io.File(s"$root/idx").listFiles()
      .map(_.getName).find(_.matches("""v_\d{20}b.*""")).get
    val hot = Ingest.hotBandList(spark, s"$root/idx", cap, "band_key").get
    val plan = hot.queryExecution.executedPlan.toString
    assert(!plan.contains(baseDirName),
      s"minhash hot list scanned the base layer:\n$plan")
  }

  test("decision write evaluates its lineage ONCE per trigger: the " +
    "standing index is scanned by exactly one executed plan (the " +
    "screen join) — promoteNamed's empty-frame probe must not re-run " +
    "corpus-scale work for unpartitioned writes") {
    // Review find: the empty-wedge guard's unconditional df.isEmpty
    // was a limit(1) job over the decision frame's FULL lineage —
    // for the screens (partitionCols = Nil) that re-ran the standing
    // index join a second time on every trigger. The guard is now
    // gated on partitionCols.nonEmpty; this spec pins the contract.
    import graft.streaming.Ingest
    import graft.operators.Dedup
    def doc(i: Long) = s"document number $i about subject ${i % 3} " +
      s"keeps talking at length item$i"
    val root = Files.createTempDirectory("once-scan").toFile
      .getAbsolutePath
    // standing index pre-seeded as a compacted BASE layer
    val seedBands = Dedup.lshBandIndex(
      (0 until 8).map(i => (i.toLong, doc(i))).toDF("doc_id", "text"),
      "doc_id", "text", 3, 4, 2)
    Ingest.appendVersioned(spark, s"$root/idx", 99L, seedBands,
      compactEvery = 2)
    val baseName = new java.io.File(s"$root/idx").listFiles()
      .map(_.getName).find(_.matches("""v_\d{20}b.*""")).get
    Seq((100L, doc(1)), (101L, "fresh novel content"))
      .toDF("doc_id", "text").repartition(1)
      .write.parquet(s"$root/in/d0")
    val plans = capturePlans {
      val q = Ingest.startMinhashScreen(
        Ingest.streamTable(spark, s"$root/in/d*",
          Seq((0L, "")).toDF("doc_id", "text").schema),
        "doc_id", "text", seedBands.limit(0).localCheckpoint(),
        3, 4, 2, 0.5, s"$root/idx", s"$root/out", s"$root/ck",
        compactEvery = 99)
      q.awaitTermination(120000)
    }
    val scanning = plans.filter(_.contains(baseName))
    assert(scanning.size == 1,
      s"standing index scanned by ${scanning.size} executed plans " +
        s"(want exactly 1 — the screen join):\n" +
        scanning.map(_.linesIterator.take(6).mkString("\n"))
          .mkString("\n---\n"))
  }

  test("sidecar across compaction generations: a capped minhash " +
    "screen's SECOND compaction supersedes the seed sidecar and the " +
    "new artifact equals a full re-aggregation of the new base") {
    // (An LSM-style INCREMENTAL stats build — outgoing sidecar +
    // folded counts instead of re-aggregating the new base — was
    // implemented, measured SLOWER at every decade, and reverted; see
    // SCALE.md round 15. The full re-aggregation below IS the design.)
    import graft.streaming.Ingest
    import graft.operators.Dedup
    def doc(i: Long) = s"document number $i speaks about topic " +
      s"${i % 3} in long winding sentences that keep going item$i"
    val seed = (0 until 6).map(i => (i.toLong, doc(i))).toDF("doc_id",
      "text")
    val seedIdx = Dedup.lshBandIndex(seed, "doc_id", "text", 3, 4, 2)
      .localCheckpoint()
    val root = Files.createTempDirectory("inc-e2e").toFile
      .getAbsolutePath
    // three drops with compactEvery=2: batch0 seed-compacts (first
    // sidecar), batch1 delta, batch2 compacts (second generation)
    Seq(Seq((100L, doc(1)), (101L, "novel alpha content one")),
      Seq((200L, doc(2)), (201L, "novel beta content two")),
      Seq((300L, "novel alpha content one"), (301L, doc(4))))
      .zipWithIndex.foreach { case (drop, i) =>
        drop.toDF("doc_id", "text").repartition(1)
          .write.parquet(s"$root/in/d$i")
      }
    val cap = 5
    val q = Ingest.startMinhashScreen(
      Ingest.streamTable(spark, s"$root/in/d*",
        Seq((0L, "")).toDF("doc_id", "text").schema,
        maxFilesPerTrigger = 1),
      "doc_id", "text", seedIdx, 3, 4, 2, 0.5,
      s"$root/idx", s"$root/out", s"$root/ck", compactEvery = 2,
      maxPosting = cap)
    q.awaitTermination(120000)
    val files = new java.io.File(s"$root/idx").listFiles()
    val baseName = files.map(_.getName)
      .filter(_.matches("""v_\d{20}b.*""")).max
    assert(baseName.startsWith("v_00000000000000000002"),
      s"expected the batch-2 compaction, got $baseName")
    val sideName = files.map(_.getName)
      .find(_.matches(s"""v_0*2s_c$cap""")).getOrElse(
        fail(s"no batch-2 sidecar among ${files.map(_.getName).toSeq}"))
    val side = spark.read.parquet(s"$root/idx/$sideName")
      .select("band_idx", "band_key", "n").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSet
    val full = spark.read.parquet(s"$root/idx/$baseName")
      .groupBy("band_idx", "band_key").agg(count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSet
    assert(side == full,
      "second-generation sidecar diverges from the new base's truth")
    // the seed-generation sidecar was superseded and removed
    assert(!files.map(_.getName).exists(_.matches(s"""v_0*0s_c$cap""")),
      "seed sidecar survived its base's supersession")
  }

  test("empty compaction under a PRUNED layout stays readable: the " +
    "empty base is written UNPARTITIONED (schema-bearing) instead of " +
    "a dynamic-partition dir with no parquet files, so later triggers " +
    "never wedge on schema inference") {
    import graft.streaming.Ingest
    val dir = Files.createTempDirectory("empty-prune").toFile
      .getAbsolutePath
    def attach(df: org.apache.spark.sql.DataFrame, n: Int) =
      df.withColumn("b", pmod(xxhash64(col("id")), lit(n)).cast("int"))
    def rows(lo: Long, hi: Long) =
      spark.range(lo, hi).select(col("id"), (col("id") * 2).as("payload"))
    // empty first micro-batch with an empty seed and manual
    // pruneBuckets > 0: AvailableNow fires batch 0 even with no input,
    // and the seeding compaction promotes an EMPTY pruned base
    Ingest.appendVersioned(spark, dir, 0L, attach(rows(0, 0), 64),
      compactEvery = 2, compact = u => (attach(u, 64), None, 64))
    assert(Ingest.standingIndexPruneN(spark, dir).contains(64))
    // the wedge was: exists=true + schema-unreadable on EVERY later
    // read; the guard keeps a schema-bearing empty file instead
    assert(Ingest.standingIndex(spark, dir).get.count() == 0)
    // later triggers append and read through the same layout
    Ingest.appendVersioned(spark, dir, 1L, attach(rows(0, 5), 64),
      compactEvery = 99)
    assert(Ingest.standingIndex(spark, dir).get.count() == 5)
    // and the next compaction adopts a real partitioned base again
    Ingest.appendVersioned(spark, dir, 2L, attach(rows(5, 8), 64),
      compactEvery = 1, compact = u => (attach(u, 64), None, 64))
    assert(Ingest.standingIndex(spark, dir).get.count() == 8)
  }

  test("prune lifecycle: N is the LAYOUT's property -- parameter " +
    "changes (off->on, resize, on->off) adopt at compaction, never " +
    "mid-layout") {
    import graft.streaming.Ingest
    val dir = Files.createTempDirectory("prune-life").toFile.getAbsolutePath
    def rows(lo: Long, hi: Long) =
      spark.range(lo, hi).select(col("id"), (col("id") * 5).as("payload"))
    val attach = (df: org.apache.spark.sql.DataFrame, n: Int) =>
      df.withColumn("b", pmod(xxhash64(col("id")), lit(n)).cast("int"))

    // an EXISTING unpruned index (base without the _n tag)
    Ingest.appendVersioned(spark, dir, 0L, rows(0, 100), 2)
    assert(Ingest.standingIndexPruneN(spark, dir).isEmpty)

    // restart with param=8: the effective N stays 0 (the layout's
    // truth) -- no b column is computed, filtered, or unioned, so the
    // pre-pruning index neither crashes nor silently drops matches
    val pr1 = Ingest.pruneFor(spark, dir, 8, attach)
    assert(pr1.effN == 0 && !pr1.on)
    def adoptC(pr: Ingest.Prune)(u: org.apache.spark.sql.DataFrame) = {
      val (a, n) = pr.adoptN(u, u.count()); (a, None, n)
    }
    Ingest.appendVersioned(spark, dir, 1L, pr1.withB(rows(100, 110)), 2,
      compact = adoptC(pr1))
    assert(Ingest.standingIndex(spark, dir).get.columns.toSeq
      == Seq("id", "payload"), "delta grew a b column mid-layout")

    // batch 2 compacts: the parameter is ADOPTED -- base tagged _n8,
    // bucket-partitioned, b derived for every row
    val pr2 = Ingest.pruneFor(spark, dir, 8, attach)
    Ingest.appendVersioned(spark, dir, 2L, pr2.withB(rows(110, 120)), 2,
      compact = adoptC(pr2))
    assert(Ingest.standingIndexPruneN(spark, dir).contains(8))
    val pruned = Ingest.standingIndex(spark, dir).get
    assert(pruned.count() == 120 && pruned.columns.contains("b"))

    // post-adoption batches read the tag and prune; restriction to
    // the probe's bucket set keeps every joinable row
    val pr3 = Ingest.pruneFor(spark, dir, 8, attach)
    assert(pr3.effN == 8 && pr3.on)
    val probe = pr3.withB(rows(0, 5)) // ids 0-4 exist in the index
    val restricted = pr3.restrict(Some(pruned), probe).get
    val hit = restricted.join(probe.select("id", "b"), Seq("id", "b"))
    assert(hit.count() == 5, "restriction lost a true match")

    // turning pruning OFF (param=0) also adopts at compaction: the
    // tag and the b column disappear, rows intact
    val pr4 = Ingest.pruneFor(spark, dir, 0, attach)
    assert(pr4.effN == 8, "pruning must stay on until compaction")
    Ingest.appendVersioned(spark, dir, 3L, pr4.withB(rows(120, 130)), 2,
      compact = adoptC(pr4))
    val pr5 = Ingest.pruneFor(spark, dir, 0, attach)
    Ingest.appendVersioned(spark, dir, 4L, pr5.withB(rows(130, 140)), 2,
      compact = adoptC(pr5))
    assert(Ingest.standingIndexPruneN(spark, dir).isEmpty)
    val off = Ingest.standingIndex(spark, dir).get
    assert(off.count() == 140 && !off.columns.contains("b"))

    // AUTO sizing: param = AutoPrune derives N from the compacted row
    // count and tags it exactly like a manual N; the next batch reads
    // the derived N as the layout's truth. Under the measured floor
    // auto DECLINES (stays unpruned); the adoption path is driven
    // with a big synthetic count through adoptN's by-name rows param
    // (the sizing rule is pure arithmetic — no need to write 10^8
    // rows to spec-lock it).
    val pr6 = Ingest.pruneFor(spark, dir, Ingest.AutoPrune, attach)
    assert(pr6.effN == 0, "auto must not invent an N before adoption")
    Ingest.appendVersioned(spark, dir, 5L, pr6.withB(rows(140, 150)), 2,
      compact = adoptC(pr6))
    assert(Ingest.standingIndexPruneN(spark, dir).isEmpty,
      "auto engaged below the floor")
    val pr6b = Ingest.pruneFor(spark, dir, Ingest.AutoPrune, attach)
    Ingest.appendVersioned(spark, dir, 6L, pr6b.withB(rows(150, 160)), 2,
      compact = u => {
        val (a, n) = pr6b.adoptN(u, 100L * 1000 * 1000) // as if 10^8
        (a, None, n)
      })
    assert(Ingest.standingIndexPruneN(spark, dir)
      .contains(Ingest.autoPruneN(100L * 1000 * 1000)),
      s"auto N tag: ${Ingest.standingIndexPruneN(spark, dir)}")
    val pr7 = Ingest.pruneFor(spark, dir, Ingest.AutoPrune, attach)
    assert(pr7.effN == Ingest.autoPruneN(100L * 1000 * 1000) && pr7.on)

    // the sizing rule: OFF below the measured floor; engages at 512;
    // the modulus never exceeds 2^16 however large the count
    assert(Ingest.autoPruneN(100) == 0)
    assert(Ingest.autoPruneN((1L << 26) - 1) == 0)
    assert(Ingest.autoPruneN(1L << 26) == 512)
    assert(Ingest.autoPruneN(100L * 1000 * 1000) == 1024)
    assert(Ingest.autoPruneN(Long.MaxValue / 2) == (1 << 16))

    // empty-fresh batches write NO delta layer (ADVICE r13): the
    // layer census is unchanged and a later real batch still appends
    val before = new java.io.File(dir).listFiles()
      .map(_.getName).filter(_.startsWith("v_")).toSet
    Ingest.appendVersioned(spark, dir, 7L,
      pr7.withB(rows(0, 0)), 99, compact = adoptC(pr7))
    val after = new java.io.File(dir).listFiles()
      .map(_.getName).filter(_.startsWith("v_")).toSet
    assert(after == before, s"empty batch grew layers: ${after -- before}")
  }

  test("pruneBuckets: bucket-partitioned standing base, per-batch " +
    "read restricted to the batch's bucket set (partition pruning), " +
    "decisions unchanged") {
    import graft.operators.TextAnalysis
    import graft.streaming.Ingest
    val good1 = ("the curious engineer wrote careful notes about the " +
      "design of the system and shared them with the team ") * 3
    val good2 = ("a different author kept the draft of the report " +
      "and sent it to the editors with thanks ") * 4
    def html(t: String) = s"<html><body><p>${t.trim}</p></body></html>"
    val drop1 = (0 until 30).map(i =>
        (i.toLong, html(good1 + s" unique marker number $i ok")))
      .toDF("doc_id", "html")
    val drop2 = Seq((100L, html(good1 + " unique marker number 3 ok")),
      (101L, html(good2))).toDF("doc_id", "html")

    val inDir = Files.createTempDirectory("pb-in").toFile
    val outDir = Files.createTempDirectory("pb-out").toFile.getAbsolutePath
    val idxDir = Files.createTempDirectory("pb-idx").toFile.getAbsolutePath
    val ckpt = Files.createTempDirectory("pb-ck").toFile.getAbsolutePath
    drop1.repartition(1).write
      .parquet(new java.io.File(inDir, "drop1").getAbsolutePath)
    drop2.repartition(1).write
      .parquet(new java.io.File(inDir, "drop2").getAbsolutePath)
    val stream = Ingest.streamTable(spark,
      inDir.getAbsolutePath + "/drop*", drop1.schema,
      maxFilesPerTrigger = 1)
    // compactEvery=2 so the SECOND batch compacts -> the base layer is
    // written bucket-partitioned and batch 2's read exercises pruning
    val q = Ingest.startWebScreen(stream, "doc_id", "html",
      idxDir = idxDir, outDir = outDir, checkpointDir = ckpt,
      compactEvery = 2, pruneBuckets = 8)
    q.awaitTermination(120000)

    // decisions: 100 duplicates batch-1's doc 3 (cross-batch, caught
    // through the PRUNED standing read); 101 is novel and canonical
    val dec = Ingest.versionedRows(spark, outDir)
      .select("doc_id", "canonical", "keep").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(dec(100L) == ((3L, false)))
    assert(dec(101L) == ((101L, true)))

    // the compacted base is partitioned by b: its dir has b=<v> subdirs
    val baseDir = new java.io.File(idxDir).listFiles()
      .filter(_.getName.matches("""v_\d{20}b(_p\d+)?(_n\d+)?""")).head
    val bDirs = baseDir.listFiles().filter(_.getName.startsWith("b="))
    assert(bDirs.length > 1, s"base not bucket-partitioned: " +
      baseDir.listFiles().map(_.getName).mkString(", "))

    // partition pruning fires: restricting the standing read to ONE
    // bucket touches strictly fewer parquet files than the full read
    val standing = Ingest.standingIndex(spark, idxDir).get
    def filesOf(df: org.apache.spark.sql.DataFrame) =
      df.select(input_file_name()).distinct().count()
    val oneB = standing.select("b").head.getInt(0)
    assert(filesOf(standing.filter(col("b") === oneB))
      < filesOf(standing),
      "bucket filter did not reduce the files read")
    // and the standing content is intact across the partitioned layout
    assert(standing.select("content_hash").distinct().count() == 31)
  }

  test("streaming ingest: file source -> watermark dedup -> windowed agg") {
    val dir = Files.createTempDirectory("stream-in").toFile
    val ckpt = Files.createTempDirectory("stream-ck").toFile
    val events = Seq(
      (1L, Timestamp.valueOf("2024-01-01 00:10:00"), "view", 1.0),
      (1L, Timestamp.valueOf("2024-01-01 00:10:00"), "view", 1.0), // dup id
      (2L, Timestamp.valueOf("2024-01-01 00:40:00"), "view", 2.0),
      (3L, Timestamp.valueOf("2024-01-01 01:05:00"), "click", 3.0))
      .toDF("event_id", "ts", "event_type", "value")
    events.write.parquet(new java.io.File(dir, "drop1").getAbsolutePath)

    val stream = Ingest.streamTable(spark,
      dir.getAbsolutePath + "/drop*", events.schema)
    val agg = Ingest.windowedCounts(
      Ingest.dedupByIdWithWatermark(stream, "event_id", "ts"),
      "ts", "event_type")
    val q = agg.writeStream.format("memory").queryName("stream_counts")
      .outputMode("complete")
      .option("checkpointLocation", ckpt.getAbsolutePath)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    val out = spark.table("stream_counts")
      .orderBy("window_start", "event_type").collect()
    // hour 0: 2 distinct view events (dup dropped); hour 1: 1 click
    assert(out.length == 2)
    assert(out(0).getAs[Long]("cnt") == 2 &&
      out(0).getAs[Double]("total_value") == 3.0)
    assert(out(1).getAs[Long]("cnt") == 1)
  }

  test("stream-stream interval join: bounded-state enrichment, batch and " +
    "stream agree") {
    val mDir = Files.createTempDirectory("ss-m").toFile.getAbsolutePath
    val aDir = Files.createTempDirectory("ss-a").toFile.getAbsolutePath
    val ckpt = Files.createTempDirectory("ss-ck").toFile.getAbsolutePath
    val meas = Seq(
      (1L, Timestamp.valueOf("2024-01-01 00:10:00"), 10.0),
      (1L, Timestamp.valueOf("2024-01-01 02:00:00"), 20.0), // no ann near
      (2L, Timestamp.valueOf("2024-01-01 00:30:00"), 30.0))
      .toDF("mid", "mts", "mval")
    val anns = Seq(
      (1L, Timestamp.valueOf("2024-01-01 00:12:00"), "geoA"),
      (2L, Timestamp.valueOf("2024-01-01 00:25:00"), "geoB"),
      (2L, Timestamp.valueOf("2024-01-01 03:00:00"), "far"))
      .toDF("mid", "ats", "ann")
    meas.write.parquet(s"$mDir/d1")
    anns.write.parquet(s"$aDir/d1")

    // batch reference through the SAME transform
    val batch = Ingest.intervalJoin(meas, anns, "mid", "mts", "ats", 600)
      .select("mid", "mval", "ann").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSet
    assert(batch == Set((1L, 10.0, "geoA"), (2L, 30.0, "geoB")))

    val sm = Ingest.streamTable(spark, s"$mDir/d*", meas.schema)
    val sa = Ingest.streamTable(spark, s"$aDir/d*", anns.schema)
    val q = Ingest.intervalJoin(sm, sa, "mid", "mts", "ats", 600)
      .select("mid", "mval", "ann")
      .writeStream.format("memory").queryName("ss_join")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    val streamed = spark.table("ss_join").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSet
    assert(streamed == batch)
  }

  // --- Schema evolution ---------------------------------------------------

  test("readEvolved merges schema eras; conformTo shapes every era to the " +
    "declared schema") {
    import graft.catalog.Catalog
    val dir = Files.createTempDirectory("evolve").toFile.getAbsolutePath
    // era 1: two columns
    Seq((1L, 10.0), (2L, 20.0)).toDF("id", "v")
      .write.parquet(s"$dir/f1")
    // era 2: adds a scalar and a nested struct column
    Seq((3L, 30.0, "x", (7L, "geo")))
      .toDF("id", "v", "tag", "meta")
      .write.parquet(s"$dir/f2")
    val merged = Catalog.readEvolved(spark, s"$dir/f*")
    assert(merged.columns.sorted.toSeq == Seq("id", "meta", "tag", "v"))
    val r1 = merged.filter(col("id") === 1L).collect()(0)
    assert(r1.getAs[String]("tag") == null && r1.getAs[Any]("meta") == null)
    assert(merged.count() == 3)

    // declared target: meta gains a field, v becomes float, tag dropped,
    // new nullable col appears — every era conforms to one shape
    val target = graft.schema.BqSchema.parse("""[
      {"name":"id","type":"INT64","mode":"REQUIRED"},
      {"name":"v","type":"FLOAT64","mode":"NULLABLE"},
      {"name":"added","type":"STRING","mode":"NULLABLE"},
      {"name":"meta","type":"RECORD","mode":"NULLABLE","fields":[
        {"name":"_1","type":"INT64","mode":"NULLABLE"},
        {"name":"_2","type":"STRING","mode":"NULLABLE"},
        {"name":"region","type":"STRING","mode":"NULLABLE"}]}]""")
    val shaped = Catalog.conformTo(merged, target)
    assert(shaped.schema.fieldNames.toSeq ==
      Seq("id", "v", "added", "meta"))
    val s3 = shaped.filter(col("id") === 3L).collect()(0)
    val meta = s3.getAs[org.apache.spark.sql.Row]("meta")
    assert(meta.getAs[Long]("_1") == 7L && meta.getAs[String]("_2") == "geo"
      && meta.getAs[String]("region") == null)
    assert(shaped.filter(col("id") === 1L).collect()(0)
      .getAs[Any]("added") == null)
  }

  test("Bench.classifyDrift: cross-round drift separates host weather " +
    "from code regression, pinned on the real r15/r16 artifacts " +
    "(VERDICT r16 #1)") {
    import graft.tools.DriftReport.{classifyDrift, Drift}
    // the REAL motivating case: the r16 driver artifact read `healthy`
    // while sitting at a judge-computed 1.235 median over r15's shared
    // tail queries, because the canaries moved in lockstep. Re-derive
    // the median from the two COMMITTED artifacts' tails (the 2000-char
    // stdout windows overlap on ~158 tail queries) and assert the
    // classifier reaches the judge's verdict: drifted-HOST, not code.
    def tailTimes(path: String): Map[String, Double] = {
      // the tail rides inside the driver artifact as an escaped JSON
      // string, so the quotes arrive as \" — match both forms
      val t = new String(Files.readAllBytes(java.nio.file.Paths.get(path)))
      """\\?"(q[0-9A-Z]+)\\?":([0-9.]+)""".r.findAllMatchIn(t)
        .map(m => m.group(1) -> m.group(2).toDouble).toMap
    }
    val r15 = tailTimes("BENCH_r15.json")
    val r16 = tailTimes("BENCH_r16.json")
    // r15 predates the canary machinery, so its own readMin was never
    // recorded; the committed same-container read floor (0.294, the
    // value the r16 adjudication itself used) stands in. r16's readMin
    // is the artifact's min(pre 0.468, post 0.327).
    val real = classifyDrift(r15, r16, prevRead = 0.294, curRead = 0.327)
    assert(real.n >= 150, s"shared tail queries: ${real.n}")
    assert(real.median > 1.20 && real.median < 1.27,
      s"median ${real.median} (judge computed 1.235)")
    assert(real.verdict == "drifted-host", real.toString)
    // the synthetic counterfactual the r16 classifier could not
    // distinguish: the SAME uniform 1.25x tail with FLAT canaries is a
    // code regression and must say so
    val slower = r15.map { case (k, v) => k -> v * 1.25 }
    val code = classifyDrift(r15, slower, prevRead = 0.294, curRead = 0.294)
    assert(code.verdict == "drifted-code", code.toString)
    assert(math.abs(code.median - 1.25) < 1e-9 &&
      math.abs(code.residual - 1.25) < 1e-9)
    // identical runs: stable, ratio 1.0
    val same = classifyDrift(r15, r15, 0.294, 0.294)
    assert(same.verdict == "stable" && math.abs(same.median - 1.0) < 1e-9)
    // a faster run is also `stable` (the label follows wall time), but
    // residual still reports the canary-relative view for the reader
    val faster = r15.map { case (k, v) => k -> v * 0.8 }
    assert(classifyDrift(r15, faster, 0.294, 0.294).verdict == "stable")
    // drift without a canary on one side is real but unattributable
    val unadj = classifyDrift(r15, slower, prevRead = -1.0, curRead = 0.3)
    assert(unadj.verdict == "drifted-unadjudicated" &&
      unadj.canary == -1.0 && unadj.residual == -1.0)
    // fewer than 20 shared queries is no reference at all — query-set
    // churn between rounds must not manufacture a verdict
    val tiny = r15.take(5)
    assert(classifyDrift(tiny, slower, 0.294, 0.294).verdict == "no-prior")
    assert(classifyDrift(Map.empty[String, Double], r16, 0.294, 0.327) ==
      Drift(0, -1, -1, -1, "no-prior"))
    // queries added or removed between rounds drop out of the median
    // rather than poisoning it
    val plusNew = r15 ++ Map("qZZ" -> 99.0)
    assert(math.abs(classifyDrift(plusNew, r16, 0.294, 0.327).median -
      real.median) < 1e-9)
  }

  test("Bench.classifyDrift movers: a localized 5x regression is NAMED in " +
    "the artifact even though the median verdict stays `stable` " +
    "(VERDICT r17 #1), and host bands manufacture no phantom movers") {
    import graft.tools.DriftReport.classifyDrift
    def tailTimes(path: String): Map[String, Double] = {
      val t = new String(Files.readAllBytes(java.nio.file.Paths.get(path)))
      """\\?"(q[0-9A-Z]+)\\?":([0-9.]+)""".r.findAllMatchIn(t)
        .map(m => m.group(1) -> m.group(2).toDouble).toMap
    }
    val r16 = tailTimes("BENCH_r16.json")
    // the motivating blind spot: every query flat except ONE at 5x, flat
    // canaries — the median reads 1.0 (`stable`) and before r18 the
    // artifact carried no signal at all. Now it says stable WITH the
    // mover named.
    val victim = r16.keys.head
    val oneBad = r16.map { case (k, v) =>
      k -> (if (k == victim) v * 5.0 else v) }
    val d = classifyDrift(r16, oneBad, 0.327, 0.327)
    assert(d.verdict == "stable" && math.abs(d.median - 1.0) < 1e-9,
      d.toString)
    assert(d.movers == 1 && d.top.size == 1, d.toString)
    assert(d.top.head._1 == victim &&
      math.abs(d.top.head._2 - 5.0) < 1e-9, d.toString)
    // several movers: top-3 named, worst first, count carries the rest
    val bad4 = r16.keys.take(4).toSeq
    val fourBad = r16.map { case (k, v) =>
      val i = bad4.indexOf(k)
      k -> (if (i >= 0) v * (2.0 + i) else v) }
    val d4 = classifyDrift(r16, fourBad, 0.327, 0.327)
    assert(d4.movers == 4 && d4.top.size == 3, d4.toString)
    assert(d4.top.map(_._1) == bad4.reverse.take(3), d4.toString)
    // a UNIFORM host band (tail and canary moving 1.25x in lockstep)
    // normalizes out: drifted-host with ZERO movers — the signal stays
    // localized-code-regression-shaped
    val slower = r16.map { case (k, v) => k -> v * 1.25 }
    val host = classifyDrift(r16, slower, 0.327, 0.327 * 1.25)
    assert(host.verdict == "drifted-host" && host.movers == 0, host.toString)
    // the REAL committed r16→r17 pair (judge table: worst shared
    // regression 1.08x, qK8): no canary-normalized mover clears 1.5x
    val r17 = tailTimes("BENCH_r17.json")
    // readMins per the two artifacts' adjudications: r16 min(0.468,
    // 0.327), r17 0.249 (the committed baseline ratchet value)
    val real = classifyDrift(r16, r17, 0.327, 0.249)
    assert(real.n >= 150 && real.movers == 0 && real.top.isEmpty,
      real.toString)
  }

  test("DriftReport.parseFull reads the BENCH_full.json shape, with or " +
    "without the fields older artifacts carried, and fails closed on " +
    "anything else") {
    import graft.tools.DriftReport.parseFull
    // a literal mirroring Bench's writer: per-query {"min","p1","p2"}
    // under full names, raw pre/post canaries, the failed list
    val fullTxt =
      """{"metric":"total","value":2.0,"unit":"sec","load_ok":true,""" +
        """"load1":1.0,""" +
        """"canary_pre":{"read":0.468,"write":0.5,"loadavg":"0.1"},""" +
        """"canary_post":{"read":0.327,"write":0.4,"loadavg":"0.2"},""" +
        """"n_queries":3,"queries":{""" +
        """"q01_scan":{"min":0.5,"p1":0.6,"p2":0.5},""" +
        """"q02_filter":{"min":1.5,"p1":1.5,"p2":1.6}},""" +
        """"failed":["q03_join"],"sf":"X"}"""
    val (fRead, fQs) = parseFull(fullTxt)
    assert(fRead == 0.327, s"min-of-pre/post read, got $fRead")
    // a failed query has no time, so it has nothing to compare
    assert(fQs == Map("q01_scan" -> 0.5, "q02_filter" -> 1.5), fQs.toString)
    // artifacts written while the bench still adjudicated itself carry
    // regime/drift fields ahead of the canaries: they read the same, so
    // an old artifact can be compared with a new one
    val older = fullTxt.replace(""""load1":1.0,""",
      """"load1":1.0,"regime":"healthy","boot_id":"b",""" +
        """"drift":{"n":2,"median":1.0,"canary":1.0,"residual":1.0,""" +
        """"movers":0,"top":[],"verdict":"stable"},"prev_adopted":true,""")
    assert(parseFull(older) == ((fRead, fQs)))
    // a failed canary (-1) is excluded from the min, not adopted
    val failedPre = fullTxt.replace(""""canary_pre":{"read":0.468""",
      """"canary_pre":{"read":-1.000""")
    assert(parseFull(failedPre)._1 == 0.327)
    // wrong-shape input (garbage, or flat name:seconds pairs) yields the
    // EMPTY map and no read — classifyDrift then says no-prior instead
    // of a silent partial verdict
    assert(parseFull("not an artifact at all") == ((-1.0, Map.empty)))
    assert(parseFull(
      """{"boot_id":"b","read":0.3,"queries":{"q1_a":0.5}}""") ==
      ((-1.0, Map.empty)))
    // the live file, when a full run has produced it, must also parse
    // (same-shape guarantee between the writer and this reader)
    val live = java.nio.file.Paths.get("target/BENCH_full.json")
    if (java.nio.file.Files.exists(live)) {
      val (lRead, lQs) = parseFull(new String(Files.readAllBytes(live)))
      assert(lQs.size > 200 && lRead > 0, s"live artifact: $lRead ${lQs.size}")
    }
  }

  test("Bench timed pass: a query that throws is listed in failed, has no " +
    "time, and adds nothing to the total") {
    import graft.Bench.{minima, timedPass}
    def ok(name: String) =
      GraftQuery(name, "", (s, _) => s.range(1000).toDF("id"), None)
    // throws in the sink, where a real query's execution errors surface
    val bad = GraftQuery("q02_bad", "",
      (s, _) => s.range(1).selectExpr("raise_error('boom') AS x"), None)
    val qs = Seq(ok("q01_ok"), bad, ok("q03_ok"))
    val p1 = timedPass(spark, "unused", qs)
    assert(p1.keySet == Set("q01_ok", "q03_ok"), p1.toString)
    val p2 = timedPass(spark, "unused", qs)
    val t = minima(qs.map(_.name), Seq(p1, p2))
    assert(t.failed == Seq("q02_bad"))
    assert(t.queries.map(_._1) == Seq("q01_ok", "q03_ok"))
    assert(t.total == math.min(p1("q01_ok"), p2("q01_ok")) +
      math.min(p1("q03_ok"), p2("q03_ok")))
    // a query that completes in one pass and throws in the other is a
    // failure too: one of its readings is a time-to-exception
    val flaky = minima(qs.map(_.name), Seq(p1 + ("q02_bad" -> 0.001), p2))
    assert(flaky.failed == Seq("q02_bad") && flaky.total == t.total)
  }

  test("PlanAudit.parseConf: PLAN_CONF entries split on the first '=', " +
    "empty entries are skipped, an entry without '=' fails naming it") {
    import graft.PlanAudit.parseConf
    assert(parseConf(" a.b = 1 ,, c=x=y,") == Seq("a.b" -> "1", "c" -> "x=y"))
    assert(parseConf("").isEmpty)
    val e = intercept[IllegalArgumentException](parseConf("a=1,oops"))
    assert(e.getMessage.contains("'oops'"), e.getMessage)
  }

  test("no fully qualified name is declared in two source files: a " +
    "src/test copy of a src/main object would shadow it by classpath order") {
    import scala.jdk.CollectionConverters._
    val pkgRe = """(?m)^package\s+([\w.]+)""".r
    val declRe = ("""(?m)^(?:(?:private(?:\[\w+\])?|protected|final|""" +
      """sealed|abstract|case|implicit)\s+)*(?:object|class|trait)\s+(\w+)""").r
    val files = Seq("src/main/scala", "src/test/scala").flatMap { root =>
      val walk = Files.walk(java.nio.file.Paths.get(root))
      try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }
    val decls = files.flatMap { f =>
      val text = new String(Files.readAllBytes(f))
      val pkg = pkgRe.findAllMatchIn(text).map(_.group(1)).mkString(".")
      declRe.findAllMatchIn(text).map(m => s"$pkg.${m.group(1)}" -> f).toSeq
    }
    assert(decls.size > 100, s"the scan found only ${decls.size} declarations")
    // a class and its companion object share one file
    val twice = decls.groupBy(_._1).view.mapValues(_.map(_._2).distinct)
      .filter(_._2.size > 1).toMap
    assert(twice.isEmpty, twice.mkString("\n"))
  }

  test("schema sync mirrors sync_tables_with_schema.sh: dry-run default, " +
    "partitioned create, structural diff, additive update (nested too), " +
    "non-additive rejected; era rows round-trip through the sink") {
    import graft.catalog.{ConnectorSink, SchemaSync}
    import graft.schema.BqSchema
    // idempotence across JVM runs: the in-memory catalog forgets the
    // managed table but its warehouse directory survives, and CREATE
    // then fails with LOCATION_ALREADY_EXISTS — drop both
    spark.sql("DROP DATABASE IF EXISTS sync_demo CASCADE")
    rmr(new java.io.File("spark-warehouse/sync_demo.db"))
    val era1 = BqSchema.parse("""[
      {"name":"test_id","type":"STRING","mode":"REQUIRED"},
      {"name":"date","type":"DATE","mode":"NULLABLE"},
      {"name":"mbps","type":"FLOAT64","mode":"NULLABLE"},
      {"name":"meta","type":"RECORD","mode":"NULLABLE","fields":[
        {"name":"site","type":"STRING","mode":"NULLABLE"}]}]""")
    // dry-run (the default) plans the create but changes NOTHING — not
    // even the database comes into existence
    val r1 = SchemaSync.sync(spark, "sync_demo", Seq("measurements" -> era1))
    assert(r1.map(t => (t.table, t.action, t.applied)) ==
      Seq(("measurements", "create", false)))
    assert(!spark.catalog.databaseExists("sync_demo"))
    assert(!spark.catalog.tableExists("sync_demo.measurements"))
    // nodryrun creates the date-partitioned table; re-sync is a match
    assert(SchemaSync.sync(spark, "sync_demo", Seq("measurements" -> era1),
      dryRun = false).head.applied)
    assert(spark.catalog.tableExists("sync_demo.measurements"))
    assert(SchemaSync.sync(spark, "sync_demo", Seq("measurements" -> era1),
      dryRun = false).head.action == "match")
    // era-1 rows arrive through the pluggable sink (parquet plan)
    val p = ConnectorSink.plan("sync_demo", "measurements",
      partitionCol = Some("date"))
    ConnectorSink.write(
      Seq(("t1", java.sql.Date.valueOf("2024-03-01"), 12.5, "abc01"))
        .toDF("test_id", "date", "mbps", "site")
        .select(col("test_id"), col("date"), col("mbps"),
          struct(col("site").as("site")).as("meta")), p)
    assert(spark.table("sync_demo.measurements").count() == 1)
    // era 2 adds a top-level column AND a nested RECORD field — the
    // shape v1 ALTER TABLE ADD COLUMNS cannot express but bq update can
    val era2 = BqSchema.parse("""[
      {"name":"test_id","type":"STRING","mode":"REQUIRED"},
      {"name":"date","type":"DATE","mode":"NULLABLE"},
      {"name":"mbps","type":"FLOAT64","mode":"NULLABLE"},
      {"name":"uploaded","type":"INT64","mode":"NULLABLE"},
      {"name":"meta","type":"RECORD","mode":"NULLABLE","fields":[
        {"name":"site","type":"STRING","mode":"NULLABLE"},
        {"name":"client","type":"STRING","mode":"NULLABLE"}]}]""")
    val dry = SchemaSync.sync(spark, "sync_demo", Seq("measurements" -> era2))
    assert(dry.head.action == "update" && !dry.head.applied)
    assert(dry.head.diff.added.toSet == Set("uploaded", "meta.client"))
    assert(!spark.table("sync_demo.measurements").columns.contains("uploaded"))
    val app = SchemaSync.sync(spark, "sync_demo",
      Seq("measurements" -> era2), dryRun = false)
    assert(app.head.action == "update" && app.head.applied)
    val evolved = spark.table("sync_demo.measurements")
    assert(evolved.columns.contains("uploaded"))
    // pre-evolution files read the added column and subfield as null
    val old = evolved.filter(col("test_id") === "t1").collect()(0)
    assert(old.getAs[Any]("uploaded") == null)
    assert(old.getAs[org.apache.spark.sql.Row]("meta")
      .getAs[String]("client") == null)
    // an era-2 row round-trips beside the era-1 one
    ConnectorSink.write(
      Seq(("t2", java.sql.Date.valueOf("2024-03-02"), 99.0, 42L,
          "def02", "ndt7-client"))
        .toDF("test_id", "date", "mbps", "uploaded", "site", "client")
        .select(col("test_id"), col("date"), col("mbps"), col("uploaded"),
          struct(col("site").as("site"), col("client").as("client"))
            .as("meta")), p)
    val after = spark.table("sync_demo.measurements")
    assert(after.count() == 2)
    assert(after.filter(col("test_id") === "t2").collect()(0)
      .getAs[Long]("uploaded") == 42L)
    // a non-additive local schema (mbps retyped to STRING) is REFUSED on
    // apply, the bq-update rejection
    val bad = BqSchema.parse("""[
      {"name":"test_id","type":"STRING","mode":"REQUIRED"},
      {"name":"date","type":"DATE","mode":"NULLABLE"},
      {"name":"mbps","type":"STRING","mode":"NULLABLE"},
      {"name":"uploaded","type":"INT64","mode":"NULLABLE"},
      {"name":"meta","type":"RECORD","mode":"NULLABLE","fields":[
        {"name":"site","type":"STRING","mode":"NULLABLE"},
        {"name":"client","type":"STRING","mode":"NULLABLE"}]}]""")
    intercept[SchemaSync.SyncRejected] {
      SchemaSync.sync(spark, "sync_demo", Seq("measurements" -> bad),
        dryRun = false)
    }
    // ...the dry-run PREDICTS the rejection (improving on the script,
    // whose dry-run prints "Updating" and only fails on the real run)
    val badDry = SchemaSync.sync(spark, "sync_demo",
      Seq("measurements" -> bad))
    assert(badDry.head.action == "reject" &&
      badDry.head.diff.retyped.map(_._1) == Seq("mbps") &&
      !badDry.head.applied)
    // ...and a nodryrun batch with one reject anywhere applies NOTHING:
    // the additive era-3 column on the sibling entry must not land
    val era3 = BqSchema.parse("""[
      {"name":"test_id","type":"STRING","mode":"REQUIRED"},
      {"name":"date","type":"DATE","mode":"NULLABLE"},
      {"name":"mbps","type":"FLOAT64","mode":"NULLABLE"},
      {"name":"uploaded","type":"INT64","mode":"NULLABLE"},
      {"name":"era3_extra","type":"STRING","mode":"NULLABLE"},
      {"name":"meta","type":"RECORD","mode":"NULLABLE","fields":[
        {"name":"site","type":"STRING","mode":"NULLABLE"},
        {"name":"client","type":"STRING","mode":"NULLABLE"}]}]""")
    SchemaSync.sync(spark, "sync_demo",
      Seq("annotations" -> era1), dryRun = false) // second table
    intercept[SchemaSync.SyncRejected] {
      SchemaSync.sync(spark, "sync_demo",
        Seq("measurements" -> era3, "annotations" -> bad), dryRun = false)
    }
    assert(!spark.table("sync_demo.measurements").columns
      .contains("era3_extra"))
    // duplicate table entries are refused before anything is classified
    // (they would both plan "create" against the pre-sync catalog and
    // collide mid-apply)
    intercept[IllegalArgumentException] {
      SchemaSync.sync(spark, "sync_demo",
        Seq("twice" -> era1, "twice" -> era2))
    }
    // the bigquery connector plan carries the PUBLIC option surface:
    // table addressing + DAY partition mapping + caller extras
    val bq = ConnectorSink.plan("sync_demo", "measurements",
      format = "bigquery", partitionCol = Some("date"),
      extra = Map("writeMethod" -> "indirect"))
    assert(bq.format == "bigquery" && bq.partitionBy.isEmpty &&
      bq.options == Map("table" -> "sync_demo.measurements",
        "partitionField" -> "date", "partitionType" -> "DAY",
        "writeMethod" -> "indirect"))
  }

  test("schema sync over the REAL reference schemas: the script's *.json " +
    "loop creates all three tables and a full re-sync is all matches") {
    import graft.catalog.SchemaSync
    import graft.schema.BqSchema
    spark.sql("DROP DATABASE IF EXISTS ref_sync CASCADE")
    rmr(new java.io.File("spark-warehouse/ref_sync.db"))
    // the script's `ls ${BASEDIR}/*.json` loop, verbatim inputs
    val tables = Seq("ndt", "sidestream", "switch").map { tn =>
      tn -> BqSchema.parseFile(s"/root/reference/schema/$tn.json")
    }
    val dry = SchemaSync.sync(spark, "ref_sync", tables)
    assert(dry.map(_.action) == Seq("create", "create", "create"))
    assert(!spark.catalog.databaseExists("ref_sync"))
    val applied = SchemaSync.sync(spark, "ref_sync", tables, dryRun = false)
    assert(applied.forall(r => r.action == "create" && r.applied))
    // the DDL → catalog → read round-trip preserves the full structural
    // schema — including ndt's 296-field, 4-deep web100 shape — so the
    // re-sync's structural diff is empty for every table
    val again = SchemaSync.sync(spark, "ref_sync", tables, dryRun = false)
    assert(again.map(_.action) == Seq("match", "match", "match"))
    val snap = spark.table("ref_sync.ndt").schema("web100_log_entry")
      .dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(snap.fieldNames.contains("snap"))
    // switch keeps its REPEATED RECORD time series through the catalog
    assert(spark.table("ref_sync.switch").schema("sample").dataType
      .isInstanceOf[org.apache.spark.sql.types.ArrayType])
  }

  test("schema sync quoting + overwrite lifecycle (ADVICE r16): " +
    "reserved-word names round-trip quoted, illegal names fail as ONE " +
    "identifier, and an overwrite write preserves the synced table " +
    "definition") {
    import graft.catalog.{ConnectorSink, SchemaSync}
    import graft.schema.BqSchema
    spark.sql("DROP DATABASE IF EXISTS quote_demo CASCADE")
    rmr(new java.io.File("spark-warehouse/quote_demo.db"))
    val sch = BqSchema.parse("""[
      {"name":"test_id","type":"STRING","mode":"REQUIRED"},
      {"name":"date","type":"DATE","mode":"NULLABLE"},
      {"name":"mbps","type":"FLOAT64","mode":"NULLABLE"}]""")
    // a RESERVED-WORD table name (`table`) used to break the unquoted
    // CREATE TABLE interpolation outright; quoted it creates, matches
    // on re-sync, and reads back like any other name
    val r = SchemaSync.sync(spark, "quote_demo", Seq("table" -> sch),
      dryRun = false)
    assert(r.map(t => (t.action, t.applied)) == Seq(("create", true)))
    assert(spark.catalog.tableExists("quote_demo.`table`"))
    assert(SchemaSync.sync(spark, "quote_demo", Seq("table" -> sch),
      dryRun = false).head.action == "match")
    // a DOTTED name travels as one quoted identifier into the session
    // catalog's own validator (alphanumeric + _ only here) instead of
    // silently splitting into a longer namespace path — the refusal is
    // the catalog's name validation, not a mangled-SQL parse error
    // (the message's `bad`.`ds` split is toSQLId's display formatting)
    val dotted = intercept[org.apache.spark.sql.AnalysisException] {
      SchemaSync.sync(spark, "bad.ds", Seq("t" -> sch), dryRun = false)
    }
    assert(dotted.getMessage.contains("not a valid name") &&
      dotted.getMessage.contains("bad"))
    // a backtick in a name is a config error, refused before anything
    // is classified (BigQuery's identifier charset excludes it)
    intercept[IllegalArgumentException] {
      SchemaSync.sync(spark, "quote`demo", Seq("t" -> sch))
    }
    intercept[IllegalArgumentException] {
      SchemaSync.sync(spark, "quote_demo", Seq("t`b" -> sch))
    }
    // OVERWRITE through the sink keeps the SchemaSync-managed
    // definition: the old saveAsTable route dropped and recreated the
    // table from the frame — here the plan omits partitionBy entirely
    // and the frame carries no date partitioning hint, yet the synced
    // DATE-partitioned layout must survive and only the rows change
    val rows1 = Seq(("a", java.sql.Date.valueOf("2024-01-01"), 1.0),
      ("b", java.sql.Date.valueOf("2024-01-02"), 2.0))
      .toDF("test_id", "date", "mbps")
    val p = ConnectorSink.plan("quote_demo", "table", mode = "overwrite")
    ConnectorSink.write(rows1, p)
    val rows2 = Seq(("c", java.sql.Date.valueOf("2024-02-01"), 3.0))
      .toDF("test_id", "date", "mbps")
    ConnectorSink.write(rows2, p)
    val after = spark.table("quote_demo.`table`")
    assert(after.count() == 1 &&
      after.collect()(0).getAs[String]("test_id") == "c")
    val meta = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(
        "table", Some("quote_demo")))
    assert(meta.partitionColumnNames == Seq("date"),
      s"synced partition layout lost: ${meta.partitionColumnNames}")
    // the re-sync still matches: overwrite did not replace the schema
    assert(SchemaSync.sync(spark, "quote_demo", Seq("table" -> sch),
      dryRun = false).head.action == "match")
  }

  test("ConnectorSink overwrite hardening (r17 self-review): multi-column " +
    "partition layouts survive, mode is case-insensitive, an " +
    "incompatible frame fails BEFORE the truncate, and an illegal " +
    "partitionCol refuses before any mutation") {
    import graft.catalog.{ConnectorSink, SchemaSync}
    import graft.schema.BqSchema
    spark.sql("DROP DATABASE IF EXISTS ow_demo CASCADE")
    rmr(new java.io.File("spark-warehouse/ow_demo.db"))
    spark.sql("CREATE DATABASE ow_demo")
    // a TWO-column partition layout: partitionBy REPLACES the writer's
    // list (it does not accumulate), so the old per-column foldLeft
    // declared only the last column — after the truncate, losing the
    // data to the mismatch error
    spark.sql("CREATE TABLE ow_demo.twopart (test_id STRING, mbps DOUBLE, " +
      "date DATE, region STRING) USING parquet PARTITIONED BY (date, region)")
    def frame(id: String, d: String, r: String) =
      Seq((id, 1.5, java.sql.Date.valueOf(d), r))
        .toDF("test_id", "mbps", "date", "region")
    val p = ConnectorSink.plan("ow_demo", "twopart", mode = "overwrite")
    ConnectorSink.write(frame("a", "2024-01-01", "eu"), p)
    ConnectorSink.write(frame("b", "2024-02-02", "us"), p)
    assert(spark.table("ow_demo.twopart").collect()
      .map(_.getAs[String]("test_id")).toSeq == Seq("b"))
    val meta2 = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(
        "twopart", Some("ow_demo")))
    assert(meta2.partitionColumnNames == Seq("date", "region"))
    // mode comparison is case-insensitive like DataFrameWriter.mode:
    // "Overwrite" must NOT fall through to drop-and-recreate
    ConnectorSink.write(frame("c", "2024-03-03", "ap"),
      ConnectorSink.plan("ow_demo", "twopart", mode = "Overwrite"))
    assert(spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(
        "twopart", Some("ow_demo"))).partitionColumnNames ==
      Seq("date", "region"))
    assert(spark.table("ow_demo.twopart").count() == 1)
    // an INCOMPATIBLE frame (missing columns) throws while writing the
    // STAGING table — before the target is touched — so the old rows
    // survive the failed overwrite
    intercept[Exception] {
      ConnectorSink.write(Seq(("x", 1.0)).toDF("test_id", "mbps"), p)
    }
    assert(spark.table("ow_demo.twopart").count() == 1,
      "failed overwrite must not have touched the target")
    // an illegal partitionCol is refused up front, before ANY table of
    // the batch is created (the all-or-nothing contract)
    val sch = BqSchema.parse("""[
      {"name":"test_id","type":"STRING","mode":"REQUIRED"},
      {"name":"date","type":"DATE","mode":"NULLABLE"}]""")
    intercept[IllegalArgumentException] {
      SchemaSync.sync(spark, "ow_demo", Seq("t1" -> sch, "t2" -> sch),
        dryRun = false, partitionCol = "da`te")
    }
    assert(!spark.catalog.tableExists("ow_demo.t1") &&
      !spark.catalog.tableExists("ow_demo.t2"))
  }

  test("ConnectorSink overwrite crash-safety (VERDICT r17 #2, ADVICE " +
    "r17): a RUNTIME write failure leaves the old rows intact, a " +
    "self-read overwrite evaluates before the target moves, and an " +
    "interrupted swap self-recovers") {
    import graft.catalog.ConnectorSink
    spark.sql("DROP DATABASE IF EXISTS cs_demo CASCADE")
    rmr(new java.io.File("spark-warehouse/cs_demo.db"))
    spark.sql("CREATE DATABASE cs_demo")
    spark.sql("CREATE TABLE cs_demo.m (test_id STRING, mbps DOUBLE, " +
      "date DATE) USING parquet PARTITIONED BY (date)")
    val p = ConnectorSink.plan("cs_demo", "m", mode = "overwrite")
    ConnectorSink.write(
      Seq(("a", 1.0, java.sql.Date.valueOf("2024-01-01")),
        ("b", 2.0, java.sql.Date.valueOf("2024-01-02")))
        .toDF("test_id", "mbps", "date"), p)
    assert(spark.table("cs_demo.m").count() == 2)
    // RUNTIME failure (not analysis): the frame is schema-compatible —
    // r17's zero-row trial would PASS it — but a row-level
    // raise_error fires mid-job. The r17 TRUNCATE+append path lost the
    // old rows here; the staging path must keep both of them.
    val boom = spark.range(4).selectExpr(
      "CAST(id AS STRING) AS test_id",
      "IF(id = 3, CAST(raise_error('mid-job failure') AS DOUBLE), " +
        "CAST(id AS DOUBLE)) AS mbps",
      "DATE'2024-02-02' AS date")
    intercept[Exception] { ConnectorSink.write(boom, p) }
    assert(spark.table("cs_demo.m").count() == 2,
      "runtime write failure must leave the old rows")
    // ...and the failed attempt's staging table was cleaned up
    assert(!spark.catalog.tableExists("cs_demo.m__ow_staging"))
    // a straggler task of that job can re-create the staging location
    // after the drop (its commit races the abort): the next overwrite
    // must not wedge on LOCATION_ALREADY_EXISTS
    new java.io.File("spark-warehouse/cs_demo.db/m__ow_staging/_temporary")
      .mkdirs()
    // SELF-READ overwrite (the advisor's medium finding): the frame's
    // lineage reads the TARGET. The old path truncated the source
    // files out from under the final append; here the lineage fully
    // evaluates into staging first, so the doubled rows land.
    val doubled = spark.table("cs_demo.m")
      .withColumn("mbps", col("mbps") * 2)
    ConnectorSink.write(doubled, p)
    val afterSelf = spark.table("cs_demo.m").collect()
      .map(r => r.getAs[String]("test_id") -> r.getAs[Double]("mbps"))
      .toMap
    assert(afterSelf == Map("a" -> 2.0, "b" -> 4.0), afterSelf.toString)
    // ...the synced partition layout survived the swap
    assert(spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier("m", Some("cs_demo")))
      .partitionColumnNames == Seq("date"))
    // INTERRUPTED SWAP: reproduce the exact crash window — target
    // dropped, staging holding the new rows — and show the next
    // overwrite completes the swap first (no window ever shows an
    // EMPTY table; the dangling instant recovers to the interrupted
    // write's result, then the new overwrite applies on top)
    spark.sql("CREATE TABLE cs_demo.m2 (test_id STRING, date DATE) " +
      "USING parquet PARTITIONED BY (date)")
    val p2 = ConnectorSink.plan("cs_demo", "m2", mode = "overwrite")
    ConnectorSink.write(Seq(("old", java.sql.Date.valueOf("2024-01-01")))
      .toDF("test_id", "date"), p2)
    // hand-build the crash state: staging = a finished write of "mid"
    // (carrying the sink's marker property, as the real CREATE does),
    // target dropped (the instant between DROP and RENAME)
    def buildCrashState(mid: String): Unit = {
      spark.sql("CREATE TABLE cs_demo.m2__ow_staging (test_id STRING, " +
        "date DATE) USING parquet PARTITIONED BY (date) " +
        "TBLPROPERTIES ('graft.ow_staging'='true')")
      Seq((mid, java.sql.Date.valueOf("2024-02-01"))).toDF("test_id", "date")
        .write.mode("append").format("parquet").partitionBy("date")
        .saveAsTable("cs_demo.m2__ow_staging")
      spark.sql("DROP TABLE cs_demo.m2")
    }
    buildCrashState("mid")
    ConnectorSink.write(Seq(("new", java.sql.Date.valueOf("2024-03-01")))
      .toDF("test_id", "date"), p2)
    val rec = spark.table("cs_demo.m2").collect()
      .map(_.getAs[String]("test_id")).toSeq
    assert(rec == Seq("new"), rec.toString)
    assert(!spark.catalog.tableExists("cs_demo.m2__ow_staging"))
    val m2meta = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier("m2", Some("cs_demo")))
    assert(m2meta.partitionColumnNames == Seq("date"))
    // ...and the staging marker did not leak onto the published table
    assert(!m2meta.properties.contains("graft.ow_staging"))
    // recovery also fires on an APPEND after the crash (self-review r18
    // #1): without it the append would RECREATE the target from its own
    // frame — losing the committed overwrite's rows and the layout
    buildCrashState("mid2")
    ConnectorSink.write(Seq(("app", java.sql.Date.valueOf("2024-04-01")))
      .toDF("test_id", "date"),
      ConnectorSink.plan("cs_demo", "m2", mode = "append",
        partitionCol = Some("date")))
    val rec2 = spark.table("cs_demo.m2").collect()
      .map(_.getAs[String]("test_id")).toSet
    assert(rec2 == Set("mid2", "app"), rec2.toString)
    assert(spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier("m2", Some("cs_demo")))
      .partitionColumnNames == Seq("date"))
    // a USER table that merely carries the staging name (no marker) is
    // never dropped, renamed, or hijacked (self-review r18 #2): the
    // overwrite refuses loudly and both tables survive untouched
    spark.sql("CREATE TABLE cs_demo.u (k STRING) USING parquet")
    spark.sql("INSERT INTO cs_demo.u VALUES ('keep-target')")
    spark.sql("CREATE TABLE cs_demo.u__ow_staging (k STRING) USING parquet")
    spark.sql("INSERT INTO cs_demo.u__ow_staging VALUES ('user-data')")
    val refusal = intercept[IllegalStateException] {
      ConnectorSink.write(Seq("x").toDF("k"),
        ConnectorSink.plan("cs_demo", "u", mode = "overwrite"))
    }
    assert(refusal.getMessage.contains("not a sink-created staging"))
    assert(spark.table("cs_demo.u").collect()
      .map(_.getString(0)).toSeq == Seq("keep-target"))
    assert(spark.table("cs_demo.u__ow_staging").collect()
      .map(_.getString(0)).toSeq == Seq("user-data"))
    // ...and the unmarked table never recovery-renames over a missing
    // target: an append to absent cs_demo.v beside a user table named
    // cs_demo.v__ow_staging just creates v from the frame
    spark.sql("CREATE TABLE cs_demo.v__ow_staging (k STRING) USING parquet")
    spark.sql("INSERT INTO cs_demo.v__ow_staging VALUES ('mine')")
    ConnectorSink.write(Seq("fresh").toDF("k"),
      ConnectorSink.plan("cs_demo", "v", mode = "append"))
    assert(spark.table("cs_demo.v").collect()
      .map(_.getString(0)).toSeq == Seq("fresh"))
    assert(spark.table("cs_demo.v__ow_staging").collect()
      .map(_.getString(0)).toSeq == Seq("mine"))
    // an EXTERNAL target refuses overwrite up front (self-review r18
    // #3): the swap would silently convert it to a managed table at the
    // warehouse path — the old TRUNCATE path failed on external tables
    // too, so the failure stays loud (and now earlier, before staging)
    val extDir = java.nio.file.Files.createTempDirectory("cs_ext").toFile
    Seq(("e1", 1.0)).toDF("test_id", "mbps")
      .write.parquet(s"${extDir.getAbsolutePath}/ext")
    spark.sql("CREATE TABLE cs_demo.ext (test_id STRING, mbps DOUBLE) " +
      s"USING parquet LOCATION '${extDir.getAbsolutePath}/ext'")
    val extRefusal = intercept[UnsupportedOperationException] {
      ConnectorSink.write(Seq(("e2", 2.0)).toDF("test_id", "mbps"),
        ConnectorSink.plan("cs_demo", "ext", mode = "overwrite"))
    }
    assert(extRefusal.getMessage.contains("EXTERNAL"))
    assert(spark.table("cs_demo.ext").collect()
      .map(_.getString(0)).toSeq == Seq("e1"),
      "external table must be untouched by the refused overwrite")
    assert(!spark.catalog.tableExists("cs_demo.ext__ow_staging"))
    // a non-parquet-provider target refuses a parquet overwrite up
    // front (review r18): the staging CREATE carries USING parquet, so
    // the swap would SILENTLY convert an ORC table's provider — the
    // replaced TRUNCATE path failed loudly at the trial append
    spark.sql("CREATE TABLE cs_demo.orc_t (k STRING) USING orc")
    spark.sql("INSERT INTO cs_demo.orc_t VALUES ('orc-rows')")
    val orcRefusal = intercept[UnsupportedOperationException] {
      ConnectorSink.write(Seq("x").toDF("k"),
        ConnectorSink.plan("cs_demo", "orc_t", mode = "overwrite"))
    }
    assert(orcRefusal.getMessage.contains("provider"), orcRefusal.getMessage)
    assert(spark.table("cs_demo.orc_t").collect()
      .map(_.getString(0)).toSeq == Seq("orc-rows"))
    assert(!spark.catalog.tableExists("cs_demo.orc_t__ow_staging"))
    // ...and a BUCKETED target refuses too: the synced definition
    // carries schema + partition columns only, so the swap would drop
    // the bucket spec without a word
    spark.sql("CREATE TABLE cs_demo.bkt (k STRING, n INT) USING parquet " +
      "CLUSTERED BY (k) INTO 4 BUCKETS")
    spark.sql("INSERT INTO cs_demo.bkt VALUES ('b', 1)")
    val bktRefusal = intercept[UnsupportedOperationException] {
      ConnectorSink.write(Seq(("x", 2)).toDF("k", "n"),
        ConnectorSink.plan("cs_demo", "bkt", mode = "overwrite"))
    }
    assert(bktRefusal.getMessage.contains("BUCKETED"), bktRefusal.getMessage)
    assert(spark.table("cs_demo.bkt").collect()
      .map(_.getAs[String]("k")).toSeq == Seq("b"))
  }

  test("partition-incremental unified refresh: one new date partition " +
    "equals the full recompute's slice, scanning exactly one " +
    "partition of each era table") {
    import graft.views.UnifiedViews
    UnifiedViews.prepare(spark)
    // minimal ndt7-shape raw rows satisfying the validity gates (q42's
    // recipe: 20 measurements in [18,120], production archive, public
    // client IP), two dates per era — the reference's daily
    // partition-append ingestion contract (schema/README.md:6-9)
    def rawEra(tag: String): org.apache.spark.sql.DataFrame =
      spark.range(0, 24).toDF("n").select(
        concat(lit(s"uuid-$tag-"), col("n").cast("string")).as("id"),
        when(col("n") % 2 === 0, lit("2024-03-01"))
          .otherwise(lit("2024-03-02")).cast("date").as("date"),
        struct(lit("v1").as("Version"),
          to_timestamp(lit("2024-03-01 00:00:00")).as("Time"),
          lit("gs://archive/mlab2-abc01-x.tgz").as("ArchiveURL"),
          lit("f.tgz").as("Filename")).as("parser"),
        struct(lit("1.2.3.4").as("IP"), lit(443L).as("Port")).as("server"),
        struct(lit("203.0.113.5").as("IP"), lit(5201L).as("Port"))
          .as("client"),
        struct(struct(
          concat(lit(s"uuid-$tag-"), col("n").cast("string")).as("UUID"),
          to_timestamp(lit("2024-03-01 00:00:00")).as("StartTime"),
          lit("bbr").as("CongestionControl"),
          transform(sequence(lit(1), lit(20)), i => struct(
            (i.cast("long") * 500000L).as("ElapsedTime"),
            struct(
              (i.cast("long") * 50000L + col("n") * 7L).as("BytesAcked"),
              (col("n") % 50 * 1000L + 1000L).as("MinRTT"),
              lit(0L).as("BytesRetrans"),
              (i.cast("long") * 50000L + col("n") * 7L + 1000L)
                .as("BytesSent")).as("TCPInfo")))
            .as("ServerMeasurements")).as("Download")).as("raw"))
    val d1 = Files.createTempDirectory("era1").toFile.getAbsolutePath
    val d2 = Files.createTempDirectory("era2").toFile.getAbsolutePath
    rawEra("a").write.mode("overwrite").partitionBy("date").parquet(d1)
    rawEra("b").write.mode("overwrite").partitionBy("date").parquet(d2)

    def chain(): org.apache.spark.sql.DataFrame =
      UnifiedViews.unifiedDownloads(Seq(
        UnifiedViews.extendedDownloads(spark.read.parquet(d1)),
        UnifiedViews.extendedDownloads(spark.read.parquet(d2))))
    val newDay = java.sql.Date.valueOf("2024-03-02")
    // the refresh is DECLARED as a filter on the unified view — the
    // Spark-first shape: Catalyst pushes the date predicate through
    // * EXCEPT(filter) / validity projections / the union down to
    // partition pruning on every era scan, no bespoke refresh operator
    val refresh = chain().where(col("date") === lit(newDay))
    val full = chain()

    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("id"), col("date"),
        col("a.MeanThroughputMbps"), col("a.MinRTT"))
        .orderBy("id").collect().toSeq
    val fullSlice = rows(full.where(col("date") === lit(newDay)))
    assert(rows(refresh) == fullSlice && fullSlice.nonEmpty)
    // full output = old slice + refreshed slice (per-row chain: no
    // cross-partition state, so single-partition recompute is exact)
    assert(rows(full).size ==
      fullSlice.size + rows(full.where(col("date") =!= lit(newDay))).size)

    // plan guard: both era scans prune to EXACTLY the one new
    // partition (the 100 TB contract — a daily refresh reads one day,
    // not the archive)
    import org.apache.spark.sql.execution.FileSourceScanExec
    val scans = refresh.queryExecution.sparkPlan.collect {
      case s: FileSourceScanExec => s
    }
    assert(scans.length == 2, s"expected 2 era scans, got ${scans.length}")
    scans.foreach { s =>
      assert(s.metadata.getOrElse("PartitionFilters", "")
        .contains("date"), s"no partition filter on era scan: $s")
      assert(s.selectedPartitions.partitionCount == 1,
        s"era scan read ${s.selectedPartitions.partitionCount} " +
          "partitions, expected 1")
    }
  }

  test("streaming view-chain ingest: file-arrival ndt7 raw drops -> " +
    "watermarked dropDuplicates(id) -> extendedDownloads -> " +
    "unifiedDownloads under readStream; stream == batch over the same " +
    "files, replayed file collapsed (SURVEY 7.6)") {
    import graft.views.UnifiedViews
    UnifiedViews.prepare(spark)
    // the partition-incremental test's fixture recipe, parameterized
    // by id range so drops are disjoint except the deliberate replay
    def rawRows(lo: Int, hi: Int): org.apache.spark.sql.DataFrame =
      spark.range(lo, hi).toDF("n").select(
        concat(lit("uuid-s-"), col("n").cast("string")).as("id"),
        when(col("n") % 2 === 0, lit("2024-03-01"))
          .otherwise(lit("2024-03-02")).cast("date").as("date"),
        struct(lit("v1").as("Version"),
          to_timestamp(lit("2024-03-01 00:00:00")).as("Time"),
          lit("gs://archive/mlab2-abc01-x.tgz").as("ArchiveURL"),
          lit("f.tgz").as("Filename")).as("parser"),
        struct(lit("1.2.3.4").as("IP"), lit(443L).as("Port")).as("server"),
        struct(lit("203.0.113.5").as("IP"), lit(5201L).as("Port"))
          .as("client"),
        struct(struct(
          concat(lit("uuid-s-"), col("n").cast("string")).as("UUID"),
          to_timestamp(lit("2024-03-01 00:00:00")).as("StartTime"),
          lit("bbr").as("CongestionControl"),
          transform(sequence(lit(1), lit(20)), i => struct(
            (i.cast("long") * 500000L).as("ElapsedTime"),
            struct(
              (i.cast("long") * 50000L + col("n") * 7L).as("BytesAcked"),
              (col("n") % 50 * 1000L + 1000L).as("MinRTT"),
              lit(0L).as("BytesRetrans"),
              (i.cast("long") * 50000L + col("n") * 7L + 1000L)
                .as("BytesSent")).as("TCPInfo")))
            .as("ServerMeasurements")).as("Download")).as("raw"))
    val root = Files.createTempDirectory("stream-chain").toFile
      .getAbsolutePath
    // drop1: ids 0-11; drop2: ids 12-23 PLUS a replayed copy of ids
    // 0-2 (the at-least-once file-redelivery shape the dedup absorbs)
    rawRows(0, 12).repartition(1).write.parquet(s"$root/in/d0")
    rawRows(12, 24).unionAll(rawRows(0, 3)).repartition(1)
      .write.parquet(s"$root/in/d1")
    val schema = spark.read.parquet(s"$root/in/d0").schema

    // the chain itself is the DEPLOYED views' code — per-row
    // projections/filters/union, so the same functions lift onto a
    // streaming frame unchanged (every view is
    // incremental-by-partition); the only streaming-specific operator
    // is the watermarked id-dedup at the raw edge
    def chain(raw: org.apache.spark.sql.DataFrame)
        : org.apache.spark.sql.DataFrame =
      UnifiedViews.unifiedDownloads(Seq(
        UnifiedViews.extendedDownloads(raw)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$root/in/d*")
      .withColumn("ts", col("raw.Download.StartTime"))
      .withWatermark("ts", "1 day")
      .dropDuplicatesWithinWatermark("id")
      .drop("ts")
    val q = chain(stream).writeStream
      .format("parquet").option("path", s"$root/out")
      .option("checkpointLocation", s"$root/ck")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)

    val batch = chain(spark.read.parquet(s"$root/in/d0", s"$root/in/d1")
      .dropDuplicates("id"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("id"), col("date"), col("a.MeanThroughputMbps"),
        col("a.MinRTT"), col("IsValidBest"))
        .orderBy("id").collect().toSeq
    val got = rows(spark.read.parquet(s"$root/out"))
    assert(got.nonEmpty && got == rows(batch),
      "stream != batch through the unified chain")
    // the replayed ids appear exactly once
    assert(spark.read.parquet(s"$root/out")
      .groupBy("id").count().filter(col("count") > 1).count() == 0)
  }

  test("durable stage writer: parquet round-trip preserves the frame, " +
    "and the corpus-build chains read the staged table, not the " +
    "extraction lineage") {
    import graft.plans.Stage
    // 1. round-trip equality vs the in-memory fence it replaced —
    // same rows, same schema, including a null and a unicode value
    val src = spark.range(0, 100).toDF("id").select(col("id"),
      when(col("id") % 7 === 0, lit(null))
        .otherwise(concat(lit("héllo→"), col("id"))).as("text"),
      (col("id") * 3.5).as("score"))
    val staged = Stage.materializeUnique(src, "infra_roundtrip")
    // parquet read-back widens nullability (Spark reads all parquet
    // columns as nullable) — names and types must survive exactly
    assert(staged.schema.map(f => (f.name, f.dataType)) ==
      src.schema.map(f => (f.name, f.dataType)))
    assert(staged.orderBy("id").collect().toSeq ==
      src.orderBy("id").collect().toSeq)
    // materializeUnique: two calls must not clobber each other
    val u1 = Stage.materializeUnique(src.where(col("id") < 10), "u")
    val u2 = Stage.materializeUnique(src.where(col("id") >= 90), "u")
    assert(u1.count() == 10 && u2.count() == 10)

    // 2. plan guard: qQ1's declared plan reads ONLY the staged WET
    // table (one pruned parquet scan) — the extraction kernel ran
    // inside the stage write, not in this plan. qQ4 reads it three
    // times (hash leg, dedup-group leg, quality leg), every scan on
    // the stage path — the cheap columnar rescan that is the point
    // of a durable stage table.
    import org.apache.spark.sql.execution.FileSourceScanExec
    def stageScans(name: String): (Int, Int) = {
      val q = SparkEntry.allQueries.find(_.name == name).get
      // sparkPlan, not executedPlan: AdaptiveSparkPlanExec hides its
      // input plan from collect()
      val scans = q.run(spark, "/root/testdata/sf0.001")
        .queryExecution.sparkPlan.collect {
          case s: FileSourceScanExec => s
        }
      (scans.length, scans.count(
        _.metadata.getOrElse("Location", "").contains("_wet")))
    }
    val (q1All, q1Stage) = stageScans("qQ1_html_gopher_chain")
    assert(q1All == 1 && q1Stage == 1,
      s"qQ1: $q1All scans, $q1Stage staged (want 1/1)")
    val (q4All, q4Stage) = stageScans("qQ4_web_corpus_build")
    assert(q4All == 3 && q4Stage == 3,
      s"qQ4: $q4All scans, $q4Stage staged (want 3/3)")
  }

  test("reference-view manifest: names, datasets, and deploy order " +
    "mirror create_dataset_views.sh line for line; every name resolves " +
    "to a queryable view; cross-dataset grants recorded") {
    import graft.catalog.{AccessEntry, AclRegistry, ReferenceViews}
    // 1. parse the reference script's own create_view invocations
    // (including the sed-generated nofilter SQL~ lines) — the expected
    // (dataset, view) sequence comes from the artifact itself, so a
    // reference update would fail this test instead of drifting
    val script = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(
        "/root/reference/views/create_dataset_views.sh")),
      java.nio.charset.StandardCharsets.UTF_8)
    val re = ("""(?m)^\s*create_view \$\{\w+\} \$\{\w+\} (\S+) """ +
      """\./[^/]+/([^/ ]+)\.(?:sql|SQL~)""").r
    val expected = re.findAllMatchIn(script)
      .map(m => (m.group(1), m.group(2))).toSeq
    assert(expected.size >= 75, s"script parse broke: ${expected.size}")
    val got = ReferenceViews.manifest.map(v => (v.dataset, v.name))
    assert(got == expected,
      "manifest diverges from the script:\n" +
        got.zipAll(expected, ("?", "?"), ("?", "?"))
          .filter(p => p._1 != p._2).take(10).mkString("\n"))
    // 2. deploy — deployQualified itself verifies the script order is
    // dependency-valid (create-before-use) and fails on a violation
    val acl = new AclRegistry
    // force: another suite's query may have memoized this (session,
    // sfDir) deploy with a throwaway ACL registry
    val names = ReferenceViews.deploy(spark, "/root/testdata/sf0.001",
      acl, force = true)
    assert(names.size == expected.size)
    // 3. every deployed name resolves through the catalog and yields
    // rows (the "a reference user hits a catalog entry" criterion)
    val empty = names.filter(n => spark.table(n).head(1).isEmpty)
    assert(empty.isEmpty, s"deployed but empty: ${empty.mkString(", ")}")
    // 4. authorized-view grants across the stacked datasets: the
    // unified views read ndt_intermediate, the statistics ladder reads
    // ndt, the intermediate views read ndt
    assert(acl.accessOf("ndt_intermediate")
      .contains(AccessEntry.view("ndt.unified_downloads")))
    assert(acl.accessOf("ndt")
      .contains(AccessEntry.view("statistics.v0_countries")))
    assert(acl.accessOf("ndt")
      .contains(AccessEntry.view("ndt_intermediate.extended_ndt7_downloads")))
    // 5. every manifest view carries a description extracted from its
    // body's leading `--` lines — the reference's awk contract
    // (create_view_lib.sh:32-33)
    val undescribed = ReferenceViews.manifest
      .filter(_.description.isEmpty).map(_.qualifiedName)
    assert(undescribed.isEmpty,
      s"views without descriptions: ${undescribed.mkString(", ")}")
    // 6. the nofilter variants really are the sed-patch of the live
    // template: no EXCEPT, no IsValidBest filter, same FROM legs
    val nf = ReferenceViews.manifest
      .find(v => v.dataset == "ndt" && v.name == "unified_downloads_nofilter")
      .get.sqlTemplate
    assert(!nf.contains("EXCEPT") && !nf.contains("WHERE isvalidbest"))
    val live = ReferenceViews.manifest
      .find(v => v.dataset == "ndt" && v.name == "unified_downloads")
      .get.sqlTemplate
    assert(ReferenceViews.nofilterDesc(
      ReferenceViews.nofilterPatch(live)) == nf)
    // and semantically: nofilter keeps the invalid rows the live view
    // drops, plus the flag column the EXCEPT strips
    val nfDf = spark.table("ndt.unified_downloads_nofilter")
    val liveDf = spark.table("ndt.unified_downloads")
    assert(nfDf.columns.contains("isvalidbest") &&
      !liveDf.columns.contains("isvalidbest"))
    assert(nfDf.count() > liveDf.count())
  }

  /** Stage directories under the default stage root whose name starts
    * with `prefix`. */
  private def stageDirs(prefix: String): Set[java.nio.file.Path] = {
    import scala.jdk.CollectionConverters._
    val stageRoot = java.nio.file.Paths.get("target/stage")
    if (!Files.exists(stageRoot)) Set.empty
    else Files.walk(stageRoot).iterator().asScala
      .filter(p => Files.isDirectory(p) &&
        p.getFileName.toString.startsWith(prefix)).toSet
  }

  test("bucketed stage: exactly one file per bucket (chokepoint " +
    "repartition), edgesSymmetric halves the staged edge volume, and " +
    "superseded label stages are reclaimed in-session") {
    import scala.jdk.CollectionConverters._
    import graft.operators.Dedup
    // the HashMin tier, whose stages this test pins
    onCorpusTier {
      // a diameter-12 chain: HashMin needs multiple geometric batches
      // (1,2,4,4,...), so the in-session reclaim of superseded cc_labels
      // stages actually fires
      val chain = spark.range(0, 12).toDF("a")
        .select(col("a"), (col("a") + 1).as("b"))
      val symBefore = stageDirs("cc_sym_")
      val labBefore = stageDirs("cc_labels_")
      val r1 = Dedup.connectedComponents(chain, maxIter = 20)
      assert(r1.collect().forall(_.getLong(1) == 0L))
      val symRaw = (stageDirs("cc_sym_") -- symBefore).toSeq
      assert(symRaw.size == 1)
      // 1. ONE file per (non-empty) bucket — the chokepoint repartition
      // guarantee; without it a T-task upstream writes up to T x 4 files.
      // File names carry the bucket id suffix (_000N before .c000), so
      // "one per bucket" is |files| == |distinct bucket ids| and <= 4.
      val dataFiles = Files.list(symRaw.head).iterator().asScala
        .map(_.getFileName.toString).filter(_.startsWith("part-")).toSeq
      val bucketIds = dataFiles.map(_.split("_").last.take(5)).distinct
      assert(dataFiles.size <= 4 && dataFiles.size == bucketIds.size,
        s"bucketed stage wrote ${dataFiles.size} files over " +
          s"${bucketIds.size} buckets (want one file per bucket, <= 4)")
      // 2. raw input stages both directions: 12 edges -> 24 rows
      assert(spark.read.parquet(symRaw.head.toString).count() == 24)
      // 3. pre-symmetrized input + the flag stages HALF of what the
      // no-flag path would (the VERDICT r11 #2 DBSCAN double-staging):
      // same 24-row symmetric frame, staged as 24, not 48 — and the
      // labels are identical
      val symInput = chain.unionAll(
        chain.select(col("b").as("a"), col("a").as("b")))
      val mid = stageDirs("cc_sym_")
      val r2 = Dedup.connectedComponents(symInput, maxIter = 20,
        edgesSymmetric = true)
      assert(r2.orderBy("node").collect().toSeq ==
        r1.orderBy("node").collect().toSeq)
      val symFlag = (stageDirs("cc_sym_") -- mid).toSeq
      assert(symFlag.size == 1)
      assert(spark.read.parquet(symFlag.head.toString).count() == 24,
        "edgesSymmetric=true must stage each directed edge once")
      // 4. in-session reclamation: the chain runs >= 3 label batches but
      // only each run's FINAL label stage survives (superseded ones are
      // deleted once the next batch's write commits)
      val labAfter = stageDirs("cc_labels_") -- labBefore
      assert(labAfter.size == 2, // one surviving stage per CC run above
        s"expected 2 surviving cc_labels stages, found ${labAfter.size} " +
          s"(${labAfter.mkString(", ")})")
      // 5. reclaiming a bucketed stage drops its catalog table AND dir
      val nTables = spark.catalog.listTables()
        .filter(col("name").startsWith("graft_stage_")).count()
      assert(nTables >= 2) // the two cc_sym stages above
      graft.plans.Stage.reclaim(r1) // labels stage: dir must vanish
      val live = stageDirs("cc_labels_") -- labBefore
      assert(live.size == 1, s"reclaim left ${live.size} label stages")
    }
  }

  /** `body`'s result and the number of Spark jobs it started. */
  private def withJobCount[A](body: => A): (A, Int) = {
    import org.apache.spark.TestBus
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val counter = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    TestBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(counter)
    val a = try body
    finally {
      TestBus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(counter)
    }
    (a, jobs.get)
  }

  test("connectedComponents driver tier: a driver-bounded edge stage is " +
    "collected once and solved in the driver — no cc_labels stage, the " +
    "cc_sym stage reclaimed before the call returns, a pinned job count") {
    import graft.operators.Dedup
    val chain = spark.range(0, 12).toDF("a") // diameter 12
      .select(col("a"), (col("a") + 1).as("b"))
    val symBefore = stageDirs("cc_sym_")
    val labBefore = stageDirs("cc_labels_")
    val (r, jobs) = withJobCount(Dedup.connectedComponents(chain, maxIter = 20))
    assert(stageDirs("cc_labels_") == labBefore,
      "the driver tier wrote a cc_labels stage")
    assert(stageDirs("cc_sym_") == symBefore,
      "the cc_sym stage outlived the call")
    // the plain cc_sym write and the one collect; the corpus tier of the
    // same call ran 43 jobs up to and including its result's collect
    assert(jobs == 2, s"driver tier ran $jobs jobs")
    assert(r.collect().map(x => (x.getLong(0), x.getLong(1))).sorted.toSeq ==
      (0L to 12L).map((_, 0L)))
  }

  test("Stage.materializeUnique reads its write back with the written " +
    "schema: nested, array, map, timestamp, decimal, binary and " +
    "non-nullable columns read back as a schema-inferring read sees " +
    "them, with the same rows, and the read starts no job") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("s", StructType(Seq(
        StructField("x", IntegerType, nullable = false),
        StructField("y", StringType))), nullable = false),
      StructField("arr", ArrayType(DoubleType, containsNull = false)),
      StructField("m", MapType(StringType, LongType,
        valueContainsNull = false)),
      StructField("ts", TimestampType),
      StructField("dec", DecimalType(12, 3)),
      StructField("bin", BinaryType)))
    val df = spark.createDataFrame(java.util.Arrays.asList(
      Row(1L, Row(1, "a"), Seq(1.5, 2.5), Map("k" -> 3L),
        Timestamp.valueOf("2024-01-02 03:04:05.123456"),
        new java.math.BigDecimal("123.456"), Array[Byte](1, 2, 3)),
      Row(2L, Row(2, null), Seq.empty[Double], Map.empty[String, Long],
        null, null, null)), schema)
    val (staged, stageJobs) =
      withJobCount(graft.plans.Stage.materializeUnique(df, "readback"))
    val plain = Files.createTempDirectory("readback").resolve("p").toString
    val (_, writeJobs) = withJobCount(df.write.parquet(plain))
    assert(stageJobs == writeJobs,
      s"the stage ran $stageJobs jobs, its write alone $writeJobs")
    val dir = new org.apache.hadoop.fs.Path(staged.inputFiles.head)
      .getParent.toString
    val inferred = spark.read.parquet(dir)
    assert(staged.schema == inferred.schema)
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.orderBy("id").collect().toSeq
    assert(rows(staged) == rows(df) && rows(inferred) == rows(df))
  }

  /** (path under src/main/scala/graft, body) for every main source. */
  private def mainSources: Seq[(String, String)] = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    Files.walk(root).iterator.asScala.filter(_.toString.endsWith(".scala"))
      .map(p => (root.relativize(p).toString,
        new String(Files.readAllBytes(p)))).toSeq
  }

  test("fence policy: src/main fences only through graft.plans.Fence — " +
    "no localCheckpoint outside Fence.scala, no stage writer outside plans/") {
    // one function per tier, so a fence-policy change (a lazy plan node,
    // a different bounded primitive) is a change to Fence alone
    val bad = for {
      (f, body) <- mainSources
      call <- """\.localCheckpoint\(|Stage\.materialize\w*\(""".r.findAllIn(body)
      allowedIn = if (call.startsWith(".")) "plans/Fence.scala" else "plans/"
      if !f.startsWith(allowedIn)
    } yield s"$f: $call"
    assert(bad.isEmpty, bad.mkString("fence through graft.plans.Fence:\n", "\n", ""))
  }

  test("view creation: src/main/scala/graft/catalog issues CREATE OR " +
    "REPLACE VIEW only in ViewRegistry.createLevels and the sequential " +
    "archive step of ReferenceViews.registerBase") {
    // one creator, so the level-parallel deploy's contract (waits per
    // level, failure handling, pool shutdown) covers every catalog view
    val bad = for {
      (f, body) <- mainSources if f.startsWith("catalog/")
      ddl <- """(?i)CREATE\s+OR\s+REPLACE\s+VIEW\s+\S+""".r.findAllIn(body)
    } yield s"$f: $ddl"
    assert(bad.sorted == Seq(
      "catalog/ReferenceViews.scala: CREATE OR REPLACE VIEW base_tables.archive",
      "catalog/ViewRegistry.scala: CREATE OR REPLACE VIEW $name"),
      bad.mkString("\n"))
  }

  test("stream start: src/main opens a writeStream chain and sets a " +
    "checkpoint location only in Ingest.startStream") {
    // one start path, so no stream bypasses its checkpoint-manager
    // choice (SchemeCheckpointFileManager)
    val site = """\.writeStream\b|"checkpointLocation"""".r
    val bad = for {
      (f, body) <- mainSources
      m <- site.findAllMatchIn(body)
      enclosing = """\bdef\s+(\w+)""".r
        .findAllMatchIn(body.substring(0, m.start)).toSeq.lastOption
        .map(_.group(1)).getOrElse("")
    } yield s"$f: ${m.matched} in $enclosing"
    assert(bad.sorted == Seq(
      "streaming/Ingest.scala: \"checkpointLocation\" in startStream",
      "streaming/Ingest.scala: .writeStream in startStream"),
      bad.mkString("\n"))
  }

  test("Fence.bounded: a streaming frame passes through untouched; a " +
    "batch frame comes back checkpointed with the same rows") {
    import graft.plans.Fence
    val stream = spark.readStream.format("rate").load()
    assert(Fence.bounded(stream) eq stream)
    val batch = spark.range(0, 50).selectExpr("id", "id * id AS sq")
    val fenced = Fence.bounded(batch)
    assert(fenced.queryExecution.analyzed.collectLeaves().map(_.nodeName) ==
      Seq("LogicalRDD"))
    assert(fenced.orderBy("id").collect().toSeq ==
      batch.orderBy("id").collect().toSeq)
  }

  test("knob inventory: every conf key, env var and system property " +
    "src/main reads is listed here with the reason it stays") {
    val listed = Set(
      graft.plans.Stage.DirKey, // deployment path: a shared filesystem
      "graft.scan.parallelismFloor", // tests run it off; PlanSpec pins both
      "SPARK_GRAFT_SF_DIR", // Bench input directory
      "SPARK_GRAFT_CPUS", // Bench/Verify local[N] width
      "SPARK_GRAFT_ONLY", // Bench probe: a subset of the queries
      "PLAN_CONF", // PlanAudit: session confs of the audited plans
      "PLAN_FULL") // PlanAudit: print whole plans
    // the first argument of each conf / env / property read: a string
    // literal, or a named constant mapped below (anything else fails)
    val read = ("""(?:conf\.get\w*|getConfString|sys\.(?:env|props)""" +
      """(?:\.\w+)?|System\.get(?:env|Property))\s*\(\s*"?([\w.]+)""").r
    val found = mainSources.flatMap { case (_, body) =>
      read.findAllMatchIn(body).map(_.group(1)) }
      .map(k => if (k == "DirKey") graft.plans.Stage.DirKey else k).toSet
    assert(found == listed, s"added: ${found -- listed}; gone: ${listed -- found}")
  }
}
