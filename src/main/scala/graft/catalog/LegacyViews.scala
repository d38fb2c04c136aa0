package graft.catalog

import org.apache.spark.sql.SparkSession

/** The reference's SECOND view-deploy surface: the legacySQL lineage
  * `schema/views_legacysql/make_views.sh` creates (separate from
  * create_dataset_views.sh's 79-view manifest) — seven stacked views
  * plus the public/alias links, every name carrying the script's
  * `_legacysql` suffix (make_views.sh:57 `local view=$2_legacysql`),
  * deployed in script order into the script's datasets:
  *
  *   legacy.ndt_plx_legacysql                 (ndt_plx.sql — the
  *     comma-union of the two PLX-era tables)
  *   intermediate.common_etl_legacysql        (common_etl.sql — ETL
  *     rows projected into the common schema, with the script's
  *     "add the ndt.iupui. prefix back" hostname quirk)
  *   intermediate.ndt_exhaustive_legacysql    (ndt_exhaustive.sql —
  *     comma-union of common_etl and ndt_plx: both eras)
  *   intermediate.ndt_all_legacysql           (monitoring-host
  *     exclusions — the reference excludes two EB IP literals)
  *   intermediate.ndt_sensible_legacysql      (duration-band analog)
  *   intermediate.ndt_downloads_legacysql / ndt_uploads_legacysql
  *   rc/alias datasets: ndt_all / ndt_downloads / ndt_uploads
  *     `SELECT * FROM [intermediate.X_legacysql]` links
  *
  * Bodies are the legacySQL DIALECT texts (marker, bracket refs,
  * comma-unions — make_views.sh envsubsts ${PROJECT}/${DATASET} and
  * this deploy does the same through [[LegacySql.translate]]'s vars),
  * adapted to the synthetic archive schema exactly as
  * [[ReferenceViews]] adapts the standard manifest: filters keep the
  * reference's SHAPE (two monitoring-host literal exclusions, a
  * sensible-band filter, per-direction quality gates) over the
  * archive's columns, and the era split uses date boundaries inside
  * the synthetic range (the reference splits PLX/ETL at 2017-05-11 —
  * here pre2015 < 01-08 <= plx < 01-16 <= etl).
  *
  * The PLX bottom tables (`legacy.ndt`, `legacy.ndt_pre2015`) are the
  * layer make_views.sh assumes pre-exists (`LEGACY=${PROJECT}:legacy`
  * is only `bq mk`'d); they are created here as era-filtered views of
  * the archive, before any lineage view deploys.
  */
object LegacyViews {

  val LegacyDs = "legacy"
  val IntermediateDs = "intermediate_v3_1_1" // the script's example arg
  val PublicDs = "rc_v3_1"
  val Aliases: Seq[String] = Seq("release")

  private[catalog] val EtlBoundary = "DATE '2024-01-16'"
  private[catalog] val Pre2015Boundary = "DATE '2024-01-08'"

  private def P = ReferenceViews.Project

  private def vars(dataset: String): Map[String, String] = Map(
    "DATASET" -> s"$P.$dataset",
    "INTERMEDIATE" -> s"$P.$IntermediateDs")

  private val commonProjection =
    """  id AS test_id,
      |  date AS partition_date,
      |  direction, mbps, min_rtt, site, country_code""".stripMargin

  /** (dataset, bare name, legacySQL body) in make_views.sh order. */
  private[graft] def lineage: Seq[(String, String, String)] = Seq(
    (LegacyDs, "ndt_plx",
      s"""#legacySQL
         |-- All plx data, with DATE(_PARTITIONTIME) mapped to
         |-- partition_date for proper partition handling.
         |SELECT *
         |FROM (
         |  SELECT
         |$commonProjection
         |  FROM
         |    [$${PROJECT}:legacy.ndt] ),
         |  (
         |  SELECT
         |$commonProjection
         |  FROM
         |    [$${PROJECT}:legacy.ndt_pre2015] )""".stripMargin),
    (IntermediateDs, "common_etl",
      s"""#legacySQL
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
         |FROM [$${PROJECT}:base_tables.ndt]
         |WHERE date >= $EtlBoundary""".stripMargin),
    (IntermediateDs, "ndt_exhaustive",
      s"""#legacySQL
         |-- Combined view of plx legacy fast table and new ETL table.
         |-- Includes monitoring tests, which should be removed before
         |-- analysis.
         |SELECT *
         |FROM
         | [$${DATASET}.common_etl_legacysql],
         | [$${PROJECT}:legacy.ndt_plx_legacysql]""".stripMargin),
    (IntermediateDs, "ndt_all",
      s"""#legacySQL
         |-- All rows from plx and etl tables, except monitoring hosts
         |-- (the reference excludes two EB monitoring IP literals).
         |SELECT *
         |FROM [$${DATASET}.ndt_exhaustive_legacysql]
         |WHERE mbps IS NOT NULL
         |  AND site != '13'
         |  AND site != 'ndt.iupui.13'""".stripMargin),
    (IntermediateDs, "ndt_sensible",
      s"""#legacySQL
         |-- All sensible rows from plx and etl tables: excludes tests
         |-- outside the sensible band (the duration-band analog).
         |SELECT *
         |FROM [$${DATASET}.ndt_all_legacysql]
         |WHERE min_rtt IS NOT NULL
         |  AND min_rtt >= 2 AND min_rtt < 45""".stripMargin),
    (IntermediateDs, "ndt_downloads",
      s"""#legacySQL
         |--  All good quality download tests
         |SELECT *
         |FROM [$${DATASET}.ndt_sensible_legacysql]
         |WHERE direction IS NOT NULL
         |  AND direction = 'download'
         |  AND mbps >= 1""".stripMargin),
    (IntermediateDs, "ndt_uploads",
      s"""#legacySQL
         |--  All good quality upload tests
         |SELECT *
         |FROM [$${DATASET}.ndt_sensible_legacysql]
         |WHERE direction IS NOT NULL
         |  AND direction = 'upload'
         |  AND mbps >= 1""".stripMargin))

  private val publicLinks = Seq("ndt_all", "ndt_downloads", "ndt_uploads")

  /** The PLX bottom layer BOTH make_views.sh scripts assume
    * pre-exists (`LEGACY=${PROJECT}:legacy` is only `bq mk`'d):
    * era-filtered views of the archive, shared by the legacySQL and
    * standardSQL lineage deploys. */
  private[catalog] def ensureBottom(spark: SparkSession): Unit = {
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $LegacyDs")
    ViewRegistry.createLevels(spark, Seq(Seq(
      s"$LegacyDs.ndt" -> (s"SELECT * FROM $P.base_tables.archive WHERE " +
        s"experiment = 'ndt' AND datatype = 'web100' AND " +
        s"date >= $Pre2015Boundary AND date < $EtlBoundary"),
      s"$LegacyDs.ndt_pre2015" -> (s"SELECT * FROM $P.base_tables.archive " +
        s"WHERE experiment = 'ndt' AND datatype = 'web100' AND " +
        s"date < $Pre2015Boundary"))))
  }

  /** Deploy the legacy lineage (idempotent catalog DDL; assumes — and
    * ensures — the base layer via [[ReferenceViews.deploy]]'s memo).
    * Returns the qualified `_legacysql` names in deploy order. */
  def deploy(spark: SparkSession, sfDir: String): Seq[String] = {
    ReferenceViews.deploy(spark, sfDir)
    (Seq(LegacyDs, IntermediateDs, PublicDs) ++ Aliases)
      .foreach(ds => spark.sql(s"CREATE DATABASE IF NOT EXISTS $ds"))
    ensureBottom(spark)
    // the lineage is created in make_views.sh order, one view per
    // level; the links all read the lineage, so they are one level
    val stacked = lineage.map { case (ds, name, body) =>
      s"$ds.${name}_legacysql" -> LegacySql.translate(body, vars = vars(ds))
    }
    val links = for (ds <- PublicDs +: Aliases; name <- publicLinks)
      yield s"$ds.${name}_legacysql" -> LegacySql.translate(
        s"""#legacySQL
           |SELECT * FROM [$${INTERMEDIATE}.${name}_legacysql]"""
          .stripMargin,
        vars = vars(ds))
    ViewRegistry.createLevels(spark, stacked.map(Seq(_)) :+ links)
    (stacked ++ links).map(_._1)
  }
}
