package graft.catalog

import org.apache.spark.sql.SparkSession

/** The standardSQL sibling of [[LegacySql]] — the only constructs in
  * the reference's standard view bodies (the SQL files under
  * schema/views_standardsql/) that Spark SQL does not read as-is:
  *
  *   - the `#standardSQL` marker line;
  *   - whole-reference backticks: BigQuery quotes a full
  *     `project.dataset.table` path inside ONE backtick pair, which
  *     Spark would parse as a single identifier containing dots —
  *     each part is re-quoted individually.
  *
  * Everything else (UNION ALL, block comments, STRUCT(...),
  * SELECT *) is already valid Spark. Scope is the reference's actual
  * standard bodies: backticks inside string literals are out of scope
  * (the bodies contain none — make_views.sh:52 even forbids `''` in
  * view SQL).
  */
object StandardSql {

  private val Tick = "`([A-Za-z0-9_.${}-]+)`".r

  /** Rewrite a standardSQL view body to Spark SQL. `vars` are the
    * deployment substitutions make_views.sh applies with envsubst
    * (`$PROJECT $DATASET` — make_views.sh:60) before bq sees the
    * text; `PROJECT` defaults to the engine's catalog name. */
  def translate(sql: String, vars: Map[String, String] = Map.empty)
      : String = {
    val sub = (Map("PROJECT" -> ReferenceViews.Project) ++ vars)
      .foldLeft(sql) { case (acc, (k, v)) =>
        acc.replace("${" + k + "}", v) }
    val noMarker = sub.linesIterator
      .filterNot(_.trim.equalsIgnoreCase("#standardSQL"))
      .mkString("\n")
    Tick.replaceAllIn(noMarker, m =>
      java.util.regex.Matcher.quoteReplacement(
        m.group(1).split('.').map(p => s"`$p`").mkString(".")))
  }
}

/** The reference's standardSQL lineage deploy —
  * `schema/views_standardsql/make_views.sh`, the dialect sibling of
  * [[LegacyViews]]: the SAME seven-view stack, plain names (no
  * `_legacysql` suffix), deployed in script order into the same
  * example datasets, plus the rc/alias public links — and
  * `create_named_views.sh`'s named-view source-mapping surface
  * (`base_tables.ndt=ndt.web100`, `base_tables.sidestream=
  * global.sidestream`), which the standard `common_etl.sql` reads
  * through (`FROM `${PROJECT}.ndt.web100`` —
  * common_etl.sql:88, vs the legacy twin's direct
  * `[base_tables.ndt]`).
  *
  * The two dialect lineages are NOT row-identical in the reference,
  * and the differences are mirrored faithfully:
  *
  *   - standard `common_etl` has the era WHERE COMMENTED OUT
  *     (common_etl.sql's trailing `-- WHERE _PARTITIONTIME >= ...`),
  *     so it carries ALL ETL-source rows, prefix applied to every
  *     row;
  *   - standard `ndt_exhaustive` has the PLX union COMMENTED OUT
  *     (ndt_exhaustive.sql:7-13 sits inside a block comment), so the
  *     standard stack serves the ETL source only while `ndt_plx` is
  *     deployed-but-unreferenced — exactly as the script leaves it.
  *
  * Filters are the same synthetic-archive adaptations as the legacy
  * twin (monitoring-host literals, sensible band, per-direction
  * quality gates), expressed in the standard dialect.
  */
object StandardViews {

  /** make_views.sh's example dataset args — shared with the legacy
    * deploy; standard names carry no suffix so the two lineages
    * coexist in the same datasets. */
  val IntermediateDs: String = LegacyViews.IntermediateDs
  val PublicDs: String = LegacyViews.PublicDs
  val Aliases: Seq[String] = LegacyViews.Aliases

  private def P = ReferenceViews.Project

  private def vars(dataset: String): Map[String, String] = Map(
    "DATASET" -> s"$P.$dataset",
    "INTERMEDIATE" -> s"$P.$IntermediateDs")

  /** create_named_views.sh's assignment specs, sandbox-example form
    * (`dataset1.table=dataset2.view`, src`%%=*` / dest`##*=`). */
  val NamedViewAssignments: Seq[String] = Seq(
    "base_tables.ndt=ndt.web100",
    "base_tables.sidestream=global.sidestream")

  /** Mirror of create_named_views.sh: one pass-through view per
    * assignment, `dest = SELECT * FROM src`. CREATE-IF-ABSENT by
    * design: in this single-catalog deployment the 79-view manifest
    * already owns `ndt.web100` (the richer annotated pass-through —
    * ReferenceViews' ndt/web100), and clobbering it with the bare
    * mapping would repoint the deployed unified chain; the reference
    * never races its two deploy surfaces over one name, so the
    * adaptation is to leave an existing destination in place and
    * report it. Returns (dest, src, createdHere). */
  def createNamedViews(spark: SparkSession,
      assignments: Seq[String] = NamedViewAssignments)
      : Seq[(String, String, Boolean)] =
    assignments.map { a =>
      val src = a.takeWhile(_ != '=')
      val dest = a.drop(a.indexOf('=') + 1)
      require(a.contains('=') && dest.count(_ == '.') == 1 &&
        src.count(_ == '.') == 1 &&
        !src.startsWith(".") && !src.endsWith(".") &&
        !dest.startsWith(".") && !dest.endsWith("."),
        s"named-view assignment must be src.table=dataset.view, got: $a")
      val destDs = dest.takeWhile(_ != '.')
      spark.sql(s"CREATE DATABASE IF NOT EXISTS $destDs")
      val exists = spark.catalog.tableExists(dest)
      if (!exists)
        spark.sql(s"CREATE VIEW $dest AS SELECT * FROM $P.$src")
      (dest, src, !exists)
    }

  private val commonProjection =
    """  id AS test_id,
      |  date AS partition_date,
      |  direction, mbps, min_rtt, site, country_code""".stripMargin

  /** (dataset, name, standardSQL body) in make_views.sh order. */
  private[graft] def lineage: Seq[(String, String, String)] = Seq(
    (LegacyViews.LegacyDs, "ndt_plx",
      s"""#standardSQL
         |-- All plx data, with DATE(_PARTITIONTIME) mapped to
         |-- partition_date for proper partition handling.
         |SELECT
         |$commonProjection
         |FROM `$${PROJECT}.legacy.ndt`
         |UNION ALL
         |SELECT
         |$commonProjection
         |FROM `$${PROJECT}.legacy.ndt_pre2015`""".stripMargin),
    (IntermediateDs, "common_etl",
      s"""#standardSQL
         |-- ETL table projected into common schema, for union with
         |-- PLX legacy data.
         |SELECT
         |  id AS test_id,
         |  date AS partition_date,
         |  direction, mbps, min_rtt,
         |  -- ETL pipeline currently drops the prefix, so we add it
         |  -- back here.
         |  CONCAT('ndt.iupui.', site) AS site,
         |  country_code
         |FROM `$${PROJECT}.ndt.web100`
         |-- WHERE date >= ${LegacyViews.EtlBoundary}""".stripMargin),
    (IntermediateDs, "ndt_exhaustive",
      s"""#standardSQL
         |-- Combined view of plx legacy fast table and new ETL table.
         |-- Includes monitoring tests, which should be removed before
         |-- analysis.
         |SELECT *
         |FROM `$${DATASET}.common_etl`
         |/*
         |UNION ALL
         |SELECT *
         |FROM `$${PROJECT}.legacy.ndt_plx`
         |*/""".stripMargin),
    (IntermediateDs, "ndt_all",
      s"""#standardSQL
         |-- All rows from plx and etl tables, except monitoring hosts
         |-- (the reference excludes two EB monitoring IP literals).
         |SELECT *
         |FROM `$${DATASET}.ndt_exhaustive`
         |WHERE mbps IS NOT NULL
         |  AND site != '13'
         |  AND site != 'ndt.iupui.13'""".stripMargin),
    (IntermediateDs, "ndt_sensible",
      s"""#standardSQL
         |-- All sensible rows from plx and etl tables: excludes tests
         |-- outside the sensible band (the duration-band analog).
         |SELECT *
         |FROM `$${DATASET}.ndt_all`
         |WHERE min_rtt IS NOT NULL
         |  AND min_rtt >= 2 AND min_rtt < 45""".stripMargin),
    (IntermediateDs, "ndt_downloads",
      s"""#standardSQL
         |--  All good quality download tests
         |SELECT *
         |FROM `$${DATASET}.ndt_sensible`
         |WHERE direction IS NOT NULL
         |  AND direction = 'download'
         |  AND mbps >= 1""".stripMargin),
    (IntermediateDs, "ndt_uploads",
      s"""#standardSQL
         |--  All good quality upload tests
         |SELECT *
         |FROM `$${DATASET}.ndt_sensible`
         |WHERE direction IS NOT NULL
         |  AND direction = 'upload'
         |  AND mbps >= 1""".stripMargin))

  private val publicLinks = Seq("ndt_all", "ndt_downloads", "ndt_uploads")

  /** Deploy the standard lineage (idempotent catalog DDL; ensures the
    * base layer, the shared PLX bottom tables, and the named-view
    * source mapping first). Returns the qualified names in deploy
    * order. */
  def deploy(spark: SparkSession, sfDir: String): Seq[String] = {
    ReferenceViews.deploy(spark, sfDir)
    createNamedViews(spark)
    (Seq(LegacyViews.LegacyDs, IntermediateDs, PublicDs) ++ Aliases)
      .foreach(ds => spark.sql(s"CREATE DATABASE IF NOT EXISTS $ds"))
    LegacyViews.ensureBottom(spark)
    // the lineage is created in make_views.sh order, one view per level
    val stacked = lineage.map { case (ds, name, body) =>
      s"$ds.$name" -> StandardSql.translate(body, vars = vars(ds))
    }
    // the minor-version public views + the rc/alias redirects — all
    // inline `SELECT * FROM INTERMEDIATE.x` bodies (make_views.sh's
    // quoted-literal create_view calls), one level over the lineage
    val links = for (ds <- PublicDs +: Aliases; name <- publicLinks)
      yield s"$ds.$name" -> StandardSql.translate(
        s"""#standardSQL
           |SELECT * FROM `$${INTERMEDIATE}.$name`""".stripMargin,
        vars = vars(ds))
    ViewRegistry.createLevels(spark, stacked.map(Seq(_)) :+ links)
    (stacked ++ links).map(_._1)
  }
}
