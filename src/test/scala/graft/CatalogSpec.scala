package graft

import java.nio.file.Files
import java.sql.Date

import org.apache.spark.sql.functions._

import graft.catalog.Catalog
import graft.operators.Skew
import graft.ops.Ops
import graft.plans.PartitionFilterRegistry

class CatalogSpec extends SparkTestBase {
  import spark.implicits._

  test("autojoinUnion: pattern-matched tables union by name with drift") {
    Seq((1, "a")).toDF("k", "v")
      .createOrReplaceTempView("auto_org1_ndt")
    Seq(("b", 2, true)).toDF("v", "k", "extra")
      .createOrReplaceTempView("auto_org2_ndt")
    Seq((9, "z")).toDF("k", "v")
      .createOrReplaceTempView("other_table")
    val u = Catalog.autojoinUnion(spark, "auto_org[0-9]+_ndt")
    assert(u.count() == 2)
    assert(u.columns.toSet == Set("k", "v", "extra"))
    // drift: extra is null-filled on the branch missing it
    assert(u.filter(col("k") === 1).collect()(0).isNullAt(
      u.columns.indexOf("extra")))
  }

  test("materializePartitioned: idempotent CTAS + enforced partition filter") {
    val dir = Files.createTempDirectory("ctas").toFile
    val path = new java.io.File(dir, "mat_tbl").getAbsolutePath
    val df = Seq((1L, Date.valueOf("2024-01-01")), (2L, Date.valueOf("2024-01-02")))
      .toDF("id", "date")
    try {
      Catalog.materializePartitioned(df, path)
      // Ignore-mode: second run is a no-op, not an error or duplicate
      Catalog.materializePartitioned(df, path)
      val back = spark.read.parquet(path)
      assert(back.filter(col("date") === "2024-01-01").count() == 1)
      // unfiltered computation is rejected (require_partition_filter)
      intercept[org.apache.spark.sql.AnalysisException] {
        back.groupBy().count().collect()
      }
      // partition pseudo-column surfacing (S3)
      val pd = Catalog.withPartitionDate(
        back.filter(col("date") === "2024-01-01"))
      assert(pd.select("partition_date").collect()(0).getDate(0) ==
        Date.valueOf("2024-01-01"))
    } finally PartitionFilterRegistry.unflag("mat_tbl")
  }

  test("saltedAgg matches plain groupBy aggregation") {
    val df = (1 to 1000).map(i => (s"k${i % 3}", i.toDouble)).toDF("k", "x")
    val salted = Skew.saltedCountSum(df, Seq("k"), "x", saltBuckets = 8)
      .orderBy("k").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val plain = df.groupBy("k")
      .agg(count(lit(1)).as("cnt"), sum("x").as("total"))
      .orderBy("k").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(salted.toSeq == plain.toSeq)
  }

  test("logPdfCdfMasked drops the artifact band before binning") {
    val df = Seq(("a", 5.0), ("a", 50.0), ("a", 425.0), ("b", 500.0))
      .toDF("grp", "x")
    val open = Ops.logPdfCdf(df, "x", "grp", 1.0, 1000.0, 0.5)
    assert(open.agg(sum("bin_cnt")).collect()(0).getLong(0) == 4L)
    // mask on, band [400, 450]: the 425 sample is excluded, the rest
    // re-aggregate; mask=false is exactly logPdfCdf
    val masked = Ops.logPdfCdfMasked(df, "x", "grp", 1.0, 1000.0, 0.5,
      mask = true, bandLo = 400.0, bandHi = 450.0)
    assert(masked.agg(sum("bin_cnt")).collect()(0).getLong(0) == 3L)
    val unmasked = Ops.logPdfCdfMasked(df, "x", "grp", 1.0, 1000.0, 0.5,
      mask = false, bandLo = 400.0, bandHi = 450.0)
    assert(unmasked.agg(sum("bin_cnt")).collect()(0).getLong(0) == 4L)
  }

  test("decilesApprox approximates the exact deciles") {
    val df = (1 to 10000).map(i => ("g", i.toDouble)).toDF("grp", "x")
    val approx = Ops.decilesApprox(df, "x", "grp").orderBy("idx").collect()
    assert(approx.length == 11)
    val median = approx(5).getAs[Double]("qv")
    assert(median > 4800 && median < 5200)
  }

  test("materializeBucketed: join of two co-bucketed tables plans with " +
    "zero exchanges") {
    import graft.catalog.Catalog
    val facts = (0L until 1000L).map(i => (i % 97, i, i * 0.5))
      .toDF("k", "id", "v")
    val dims = (0L until 500L).map(i => (i % 97, s"n$i")).toDF("k", "name")
    Catalog.materializeBucketed(facts, "bk_facts", "k", 8)
    Catalog.materializeBucketed(dims, "bk_dims", "k", 8)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // force a non-broadcast join so the shuffle-avoidance is visible
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("bk_facts")
        .join(spark.table("bk_dims"), "k")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        s"expected a non-broadcast join:\n$plan")
      assert(!plan.contains("Exchange"),
        s"bucketed join should not shuffle:\n$plan")
      // and it still computes the right thing
      assert(joined.count() ==
        facts.join(dims, "k").count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS bk_facts")
      spark.sql("DROP TABLE IF EXISTS bk_dims")
    }
  }

  test("Catalog.compact merges a small-files directory to the byte-size " +
    "target") {
    val in = Files.createTempDirectory("compact-in").toFile.getAbsolutePath
    val out = Files.createTempDirectory("compact-out").toFile.getAbsolutePath
    (0 until 5000).map(i => (i.toLong, s"row $i")).toDF("id", "v")
      .repartition(40).write.mode("overwrite").parquet(in)
    def files(p: String) = new java.io.File(p).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(files(in) == 40)
    val n = Catalog.compact(spark, in, out, targetFileMB = 1024)
    assert(n == 1 && files(out) == 1)
    // content preserved
    assert(spark.read.parquet(out).count() == 5000)
  }

  test("Catalog.writeClustered yields disjoint per-file key ranges " +
    "(row-group skipping becomes real)") {
    val out = Files.createTempDirectory("clus-out").toFile.getAbsolutePath
    val df = (0 until 20000)
      .map(i => ((i * 2654435761L) % 100000L, i.toLong)).toDF("k", "v")
      .repartition(16) // scrambled input
    Catalog.writeClustered(df, out, Seq("k"), files = 8)
    val ranges = spark.read.parquet(out)
      .groupBy(input_file_name().as("f"))
      .agg(min("k").as("lo"), max("k").as("hi"))
      .collect().map(r => (r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    assert(ranges.length == 8)
    ranges.sliding(2).foreach { case Array((_, hi1), (lo2, _)) =>
      assert(hi1 <= lo2, s"overlapping file ranges: $ranges")
    }
  }
  test("LegacySql.translate: marker stripped, bracket refs mapped, " +
    "comma-union rewritten to UNION ALL (not a cross join); single-" +
    "item FROM and outer WHERE tails preserved") {
    import graft.catalog.LegacySql
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // the ndt_plx shape: two parenthesized legs, leading comment block
    val legacy = """#legacySQL
      |-- All plx-shaped data, with both eras mapped (proper
      |-- partition handling).
      |SELECT a, b
      |FROM (
      |  SELECT id AS a, id * 2 AS b FROM [${PROJECT}:legacy.t1]),
      |  (
      |  SELECT id AS a, id * 3 AS b FROM [${PROJECT}:legacy.t2])""".stripMargin
    spark.range(0, 5).toDF("id").createOrReplaceTempView("lsq_t1")
    spark.range(100, 103).toDF("id").createOrReplaceTempView("lsq_t2")
    val out = LegacySql.translate(legacy,
      Map("legacy.t1" -> "lsq_t1", "legacy.t2" -> "lsq_t2")
        .withDefault(identity))
    assert(!out.contains("#legacySQL") && !out.contains("${PROJECT}"))
    assert(out.contains("UNION ALL"))
    val got = spark.sql(out)
    // UNION ALL semantics: 5 + 3 rows — a cross-join misread would
    // square the legs (15 rows)
    assert(got.count() == 8)
    val expect = spark.sql("SELECT id AS a, id * 2 AS b FROM lsq_t1")
      .unionAll(spark.sql("SELECT id AS a, id * 3 AS b FROM lsq_t2"))
    assert(got.collect().map(_.toString).sorted.toSeq ==
      expect.collect().map(_.toString).sorted.toSeq)

    // a single-item FROM is untouched
    val one = "SELECT a FROM (SELECT id AS a FROM lsq_t1) x WHERE a > 1"
    assert(LegacySql.translate(one) == one)

    // an outer depth-0 WHERE terminates the comma list and survives
    val withTail = LegacySql.translate(
      "SELECT * FROM (SELECT id AS a FROM lsq_t1), " +
        "(SELECT id AS a FROM lsq_t2) WHERE a >= 2")
    assert(withTail.toUpperCase.contains("WHERE A >= 2"))
    assert(spark.sql(withTail).count() == 3 + 3) // ids 2,3,4 + 100-102

    // bare table refs become SELECT * legs
    val bare = LegacySql.translate(
      "SELECT * FROM [${PROJECT}:x.t1], [${PROJECT}:x.t2]",
      Map("x.t1" -> "lsq_t1", "x.t2" -> "lsq_t2").withDefault(identity))
    assert(spark.sql(bare).count() == 8)

    // a leg ending in a `--` comment must not swallow the UNION ALL
    // (legs are joined on fresh lines — r14 review find)
    val commented = LegacySql.translate(
      "SELECT * FROM (SELECT id AS a FROM lsq_t1) -- pre era\n, " +
        "(SELECT id AS a FROM lsq_t2) -- post era (both)")
    assert(spark.sql(commented).count() == 8, commented)

    // an ALIASED leg is outside the shim's legacy subset: fail fast
    // with a named error instead of emitting mangled SQL
    val ex = intercept[IllegalArgumentException] {
      LegacySql.translate(
        "SELECT * FROM (SELECT id AS a FROM lsq_t1) x, " +
          "(SELECT id AS a FROM lsq_t2) y")
    }
    assert(ex.getMessage.contains("aliased"))

    // 'string literals' are opaque to the scanner (ADVICE r14): a
    // comma, paren, or clause keyword inside one must not mis-split
    // the FROM list or terminate it early
    val lits = LegacySql.translate(
      "SELECT * FROM (SELECT id AS a, 'x, (WHERE' AS tag FROM lsq_t1)" +
        ", (SELECT id AS a, 'don''t)' AS tag FROM lsq_t2)")
    assert(spark.sql(lits).count() == 8, lits)
    // a literal in the outer SELECT list (before FROM) is also opaque
    val preLit = LegacySql.translate(
      "SELECT 'FROM a, b' AS note, a FROM " +
        "(SELECT id AS a FROM lsq_t1), (SELECT id AS a FROM lsq_t2)")
    assert(spark.sql(preLit).count() == 8, preLit)
    // legacy SQL also quotes strings with DOUBLE quotes (identifiers
    // use [brackets], so " is always a string) — the same opacity
    // contract holds for them (review find: the first literal-aware
    // scanner only skipped the single-quote form)
    val dq = LegacySql.translate(
      "SELECT * FROM (SELECT id AS a, \"x, (WHERE\" AS tag " +
        "FROM lsq_t1), (SELECT id AS a, \"don\\\"t)\" AS tag " +
        "FROM lsq_t2)")
    assert(spark.sql(dq).count() == 8, dq)
    val preDq = LegacySql.translate(
      "SELECT \"FROM a, b\" AS note, a FROM " +
        "(SELECT id AS a FROM lsq_t1), (SELECT id AS a FROM lsq_t2)")
    assert(spark.sql(preDq).count() == 8, preDq)
  }

  test("level-parallel reference deploy: 5 levels of 36/14/10/6/13 views; " +
    "every view's stored text, schema, query columns and properties and " +
    "every dataset's ACL equal a sequential manifest-order deploy, over " +
    "repeated forced deploys; every name yields rows; cross-dataset " +
    "grants recorded") {
    import org.apache.spark.sql.SparkSession
    import org.apache.spark.sql.catalyst.TableIdentifier
    import graft.catalog.{AccessEntry, AclRegistry, ReferenceViews,
      ViewRegistry}
    val dir = "/root/testdata/sf0.001"
    val manifest = ReferenceViews.manifest
    val levels = new ViewRegistry(spark)
      .levelled(manifest, ReferenceViews.vars).groupBy(_.level)
      .toSeq.sortBy(_._1).map(_._2.size)
    assert(levels == Seq(36, 14, 10, 6, 13), levels)
    val names = ReferenceViews.rawLayer.map(_._1) ++
      manifest.map(_.qualifiedName)
    def snapshot(s: SparkSession) = names.map { n =>
      val Array(db, t) = n.split('.')
      val m = s.sessionState.catalog
        .getTableMetadata(TableIdentifier(t, Some(db)))
      n -> (m.viewText, m.schema, m.viewQueryColumnNames, m.properties)
    }.toMap
    def acls(acl: AclRegistry) = acl.datasets.map(d => d -> acl.accessOf(d))
    def diff[A](got: Map[String, A], want: Map[String, A]): Seq[String] =
      names.filter(n => got(n) != want(n))

    // the level-parallel path, in a fresh session: the body of a forced
    // ReferenceViews.deploy without its memo, so no entry is left for
    // the weak-keyed memo spec to count
    val par = spark.newSession()
    def deploy(acl: AclRegistry): Seq[String] = {
      ReferenceViews.registerBase(par, dir)
      new ViewRegistry(par).deployQualified(manifest, acl, ReferenceViews.vars)
    }
    val parAcl = new AclRegistry
    val deployed = deploy(parAcl)
    val parSnap = snapshot(par)

    // a test-local sequential deploy in a second fresh session: the raw
    // layer and then the manifest, one CREATE after another in manifest
    // order, each view's ACL sync right after its CREATE
    val seq = spark.newSession()
    ReferenceViews.registerBase(seq, dir)
    ReferenceViews.rawLayer.foreach { case (n, body) =>
      seq.sql(s"CREATE OR REPLACE VIEW $n AS $body") }
    val seqAcl = new AclRegistry
    val reg = new ViewRegistry(seq)
    val byQ = manifest.map(v => v.qualifiedName.toLowerCase -> v).toMap
    manifest.foreach { v =>
      val body = reg.render(v.sqlTemplate, ReferenceViews.vars)
      seq.sql(s"CREATE DATABASE IF NOT EXISTS ${v.dataset}")
      seq.sql(s"CREATE OR REPLACE VIEW ${v.qualifiedName} AS $body")
      seqAcl.syncDataset(v.dataset, "", v.access)
      reg.dependencies(body).map(_.stripPrefix(s"${ReferenceViews.Project}."))
        .foreach { dep =>
          val target = byQ.get(dep).map(_.qualifiedName).getOrElse(dep)
          seqAcl.syncDataset(seqAcl.datasetOf(target))
          seqAcl.syncViewAccess(v.qualifiedName, target)
        }
    }
    val seqSnap = snapshot(seq)
    assert(diff(parSnap, seqSnap).isEmpty,
      s"level-parallel != sequential: ${diff(parSnap, seqSnap)}")
    assert(acls(parAcl) == acls(seqAcl))

    // repeated forced deploys in one session land the same catalog
    for (i <- 1 to 5) {
      val acl = new AclRegistry
      deploy(acl)
      val d = diff(snapshot(par), seqSnap)
      assert(d.isEmpty, s"forced deploy $i differs: $d")
      assert(acls(acl) == acls(seqAcl), s"forced deploy $i: ACLs differ")
    }

    assert(deployed == manifest.map(_.qualifiedName))
    val empty = deployed.filter(n => par.table(n).head(1).isEmpty)
    assert(empty.isEmpty, s"deployed but empty: ${empty.mkString(", ")}")
    assert(parAcl.accessOf("ndt_intermediate")
      .contains(AccessEntry.view("ndt.unified_downloads")))
    assert(parAcl.accessOf("ndt")
      .contains(AccessEntry.view("statistics.v0_countries")))
    assert(parAcl.accessOf("ndt")
      .contains(AccessEntry.view("ndt_intermediate.extended_ndt7_downloads")))
    // hand the base-table binding back to the shared session
    ReferenceViews.registerBase(spark, dir)
  }

  test("level-parallel deploy failure: a level-2 analysis error is " +
    "rethrown after its whole level finished, with the level's other " +
    "failure suppressed; no level-3 view, no ACL grant, no pool thread " +
    "left; an order violation fails before any DDL") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.AnalysisException
    import graft.catalog.{AclRegistry, ViewDef, ViewRegistry}
    val reg = new ViewRegistry(spark)
    def view(name: String, sql: String) = ViewDef(name, sql, dataset = "lvl_t")
    def exists(name: String) = spark.catalog.tableExists(s"lvl_t.$name")
    spark.sql("DROP DATABASE IF EXISTS lvl_t CASCADE")
    val level1 = Seq(view("a", "SELECT id FROM range(10)"),
      view("b", "SELECT id AS k FROM range(5)"))
    // the first view of level 2 fails at once; sixteen more are queued
    // behind it on a pool no wider than the driver's cores
    val ok2 = (1 to 16).map(i => view(s"c$i",
      s"SELECT id * $i AS x FROM spark_catalog.lvl_t.a"))
    val level2 = view("bad", "SELECT no_such_col FROM spark_catalog.lvl_t.b") +:
      ok2 :+ view("bad2", "SELECT no_such_col2 FROM spark_catalog.lvl_t.a")
    val level3 = Seq(view("top", "SELECT * FROM spark_catalog.lvl_t.c1"))
    val views = level1 ++ level2 ++ level3
    assert(reg.levelled(views, Map.empty).map(_.level) ==
      Seq(1, 1) ++ Seq.fill(level2.size)(2) :+ 3)
    val acl = new AclRegistry
    val ex = intercept[AnalysisException](reg.deployQualified(views, acl))
    // observed right at the throw: every other level-2 CREATE had ended
    val created = views.map(_.name).filter(exists)
    assert(created == Seq("a", "b") ++ ok2.map(_.name), created)
    assert(ex.getMessage.contains("no_such_col"), ex.getMessage)
    assert(ex.getSuppressed.map(_.getMessage).toSeq.exists(
      _.contains("no_such_col2")))
    // analysed on the deploy pool, not the calling thread
    assert(ex.getStackTrace.exists(
      _.getClassName.startsWith("java.util.concurrent.ThreadPoolExecutor")))
    assert(acl.datasets.isEmpty)
    val alive = Thread.getAllStackTraces.keySet.asScala
      .filter(_.getName.startsWith(ViewRegistry.DeployThreadName))
    assert(alive.isEmpty, alive.map(_.getName))

    // manifest order violating create-before-use: today's message, and
    // nothing created (not even the dataset)
    spark.sql("DROP DATABASE IF EXISTS lvl_t CASCADE")
    val misordered = Seq(view("first", "SELECT 1 AS x"),
      view("early", "SELECT * FROM spark_catalog.lvl_t.late"),
      view("late", "SELECT 1 AS y"))
    val order = intercept[IllegalArgumentException](
      reg.deployQualified(misordered, new AclRegistry))
    assert(order.getMessage.contains("lvl_t.early deploys before its " +
      "dependencies: lvl_t.late (order violates the create-before-use " +
      "invariant)"), order.getMessage)
    assert(!spark.catalog.databaseExists("lvl_t"))
  }
}
