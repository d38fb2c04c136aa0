package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{GraftQuery, Tables}
import graft.views.UnifiedViews

/** The upload-direction multi-era unified read path
  * (views/ndt/unified_uploads.sql:42-90): the ndt7 scan branch ∪ the
  * join-enriched ndt5 branch ∪ the metadata-synthesizing web100 branch,
  * through the upload-specific standard columns — 'Unknown' congestion
  * control, NULL LossRate, EndTime−StartTime durations, BytesReceived
  * size screen, no early-exit rescue, and the relocated-IP /
  * region-masked client/server rebuild (extended_ndt7_uploads.sql:
  * 113-167).
  *
  * Era quirks exercised (and encoded in the oracle):
  *   - ndt5 `_IsRFC1918` screens the SERVER address
  *     (extended_ndt5_uploads.sql:57-63), so RFC1918 *clients* survive
  *     in the ndt5 era but not in ndt7/web100;
  *   - web100's OAM list is the short early-devices list
  *     (extended_web100_uploads.sql:73-76), so a GCE script-exporter IP
  *     that is OAM for ndt7/ndt5 survives in the web100 era;
  *   - web100 Site/Machine are regex-extracted from the server
  *     hostname (:163-164) where ndt7/ndt5 pass them through.
  *
  * Fixtures are synthesized per-row from `orders` exactly as the
  * downloads chain does (Eras.scala): each era a disjoint o_orderkey%3
  * slice, the tcpinfo table a second scan of the ndt5 slice, so the
  * oracle is a closed form over the same table. Scale shape matches the
  * downloads chain: per-row projections, one date-aligned shuffle join
  * in the ndt5 leg, a metadata-only union, the consumer date window
  * pushed into every leg.
  */
object ErasUpload {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  private val k = col("o_orderkey")
  private val c = col("o_custkey")

  // Shared synthetic fields (identical closed forms in the oracle).
  private val recv: Column = floor(col("o_totalprice") * 100) % 100000L
  private val rtt: Column = c % 50L + 1L
  private val clientIp: Column = when(k % 7 === 0, lit("10.0.0.1"))
    .when(k % 17 === 0, lit("2001:db8::1"))
    .when(k % 29 === 0, lit("35.193.254.117")) // OAM for ndt7/ndt5 only
    .otherwise(lit("203.0.113.5"))
  private val archiveUrl: Column =
    when(k % 10 =!= 0, lit("gs://archive/mlab2-lga03-x.tgz"))
      .otherwise(lit("gs://archive/other.tgz"))
  private def parserCol(version: String, filename: String): Column =
    struct(lit(version).as("Version"), col("o_orderdate").as("Time"),
      archiveUrl.as("ArchiveURL"), lit(filename).as("Filename"))

  /** Synthetic 17-field Geo with a NON-NULL Region — the masked output
    * being NULL proves the etl#1069 region mask actually ran.
    */
  private def geoCol(seed: Column): Column = struct(
    lit("NA").as("ContinentCode"), lit("US").as("CountryCode"),
    lit("USA").as("CountryCode3"), lit("United States").as("CountryName"),
    concat(lit("Region-"), (seed % 10).cast("string")).as("Region"),
    lit("NY").as("Subdivision1ISOCode"),
    lit("New York").as("Subdivision1Name"),
    lit(null).cast("string").as("Subdivision2ISOCode"),
    lit(null).cast("string").as("Subdivision2Name"),
    (seed % 100).cast("long").as("MetroCode"), lit("NYC").as("City"),
    lit(212L).as("AreaCode"), lit("10001").as("PostalCode"),
    lit(40.7).as("Latitude"), lit(-74.0).as("Longitude"),
    lit(100L).as("AccuracyRadiusKm"), lit(false).as("Missing"))

  private val networkCol: Column =
    struct(lit(64496L).as("ASNumber"), lit("AS-EXAMPLE").as("ASName"))

  private val serverCol: Column = struct(
    lit("1.2.3.4").as("IP"), lit(443L).as("Port"),
    lit("lga03").as("Site"), lit("mlab2").as("Machine"),
    geoCol(lit(1L)).as("Geo"), networkCol.as("Network"))
  private val clientCol: Column = struct(
    clientIp.as("IP"), lit(5201L).as("Port"),
    geoCol(c).as("Geo"), networkCol.as("Network"))
  private def idCol(era: String): Column =
    concat(lit(era + "-"), k.cast("string"))

  /** ndt7-era raw upload rows (o_orderkey ≡ 0 mod 3): nested
    * ServerMeasurements with BytesReceived counters, raw-level address
    * fields, and an EMPTY measurement array on every 19th test (the
    * FinalSnapshot-IS-NULL → IsComplete=false path).
    */
  private def ndt7Raw(orders: DataFrame): DataFrame = {
    def m(elapsed: Column) = struct(
      elapsed.as("ElapsedTime"),
      struct(recv.as("BytesReceived"), (rtt * 1000L).as("MinRTT"))
        .as("TCPInfo"))
    def metaPair(name: Column, value: Column) =
      struct(name.as("Name"), value.as("Value"))
    val meas = array(m(lit(500000L)), m((k % 80 + 10L) * 1000000L))
    orders.filter(k % 3 === 0).select(
      idCol("ndt7").as("id"), col("o_orderdate").as("date"),
      parserCol("v1", "f.tgz").as("parser"), serverCol.as("server"),
      clientCol.as("client"),
      struct(
        clientIp.as("ClientIP"), lit(5201L).as("ClientPort"),
        lit("1.2.3.4").as("ServerIP"), lit(443L).as("ServerPort"),
        struct(
          idCol("ndt7").as("UUID"),
          col("o_orderdate").as("StartTime"),
          expr("timestampadd(SECOND, CAST(o_orderkey % 80 + 10 AS INT)," +
            " o_orderdate)").as("EndTime"),
          array(
            metaPair(lit("client_name"), col("o_orderpriority")),
            metaPair(lit("client_os"), col("o_orderstatus")))
            .as("ClientMetadata"),
          array(metaPair(lit("server_hostname"), lit("mlab2.example")))
            .as("ServerMetadata"),
          when(k % 19 === 0, slice(meas, 1, 0)).otherwise(meas)
            .as("ServerMeasurements")).as("Upload")).as("raw"))
  }

  /** ndt5-era raw upload rows (≡ 1 mod 3): C2S control record only;
    * counters come from [[ndt5TcpInfo]].
    */
  private def ndt5Raw(orders: DataFrame): DataFrame =
    orders.filter(k % 3 === 1).select(
      idCol("ndt5").as("id"), col("o_orderdate").as("date"),
      parserCol("v1", "f.tgz").as("parser"), serverCol.as("server"),
      clientCol.as("client"),
      struct(
        struct(
          when(k % 11 === 0, lit("")).otherwise(idCol("ndt5")).as("UUID"),
          col("o_orderdate").as("StartTime"),
          expr("timestampadd(SECOND, CAST(o_orderkey % 80 AS INT), " +
            "o_orderdate)").as("EndTime"),
          clientIp.as("ClientIP"), lit(5201L).as("ClientPort"),
          lit("1.2.3.4").as("ServerIP"), lit(443L).as("ServerPort"),
          when(k % 13 === 0, lit("err")).otherwise(lit("")).as("Error"))
          .as("C2S"),
        struct(
          when(k % 2 === 0, lit("wss")).otherwise(lit("plain"))
            .as("Protocol"),
          lit("json").as("MessageProtocol"),
          array(
            struct(lit("client_name").as("Name"),
              col("o_orderpriority").as("Value")),
            struct(lit("client_os").as("Name"),
              col("o_orderstatus").as("Value"))).as("ClientMetadata"),
          array(struct(lit("server_hostname").as("Name"),
            lit("mlab2.example").as("Value"))).as("ServerMetadata"))
          .as("Control")).as("raw"))

  /** The separate tcpinfo table for the ndt5 upload era: ~1/5 of tests
    * have no row (k % 5 == 4), exercising the LEFT join's
    * IsComplete=false path; pre-filtered by the same date window as the
    * consumer (PartitionFilterCheck's contract for join legs).
    */
  private def ndt5TcpInfo(orders: DataFrame,
      dateWindow: Column): DataFrame =
    orders.filter(k % 3 === 1 && k % 5 =!= 4).filter(dateWindow)
      .select(
        idCol("ndt5").as("id"), col("o_orderdate").as("date"),
        parserCol("v2", "tcp.tgz").as("parser"),
        struct(lit("cubic").as("CongestionAlgorithm"),
          struct(recv.as("BytesReceived"), (rtt * 1000L).as("MinRTT"))
            .as("TCPInfo")).as("FinalSnapshot"))

  /** web100-era raw upload rows (≡ 2 mod 3): flat connection/snap
    * counters with the connection_spec address block; data_direction=0
    * for uploads (every 9th row is a download, filtered by the view);
    * every 21st row has a NULL State (IsComplete=false path).
    */
  private def web100Raw(orders: DataFrame): DataFrame =
    orders.filter(k % 3 === 2).select(
      idCol("web100").as("id"), col("o_orderdate").as("date"),
      parserCol("v1", "f.tgz").as("parser"), serverCol.as("server"),
      clientCol.as("client"),
      struct(
        struct(
          when(k % 9 === 0, lit(1L)).otherwise(lit(0L))
            .as("data_direction"),
          col("o_orderpriority").as("client_application"),
          col("o_orderstatus").as("client_browser"),
          concat(lit("host-"), (k % 5).cast("string"))
            .as("client_hostname"),
          lit("2.6.32").as("client_kernel_version"),
          lit("linux").as("client_os"),
          lit("3.7.0").as("client_version"),
          clientIp.as("client_ip"),
          lit("mlab2.lga03.measurement-lab.org").as("server_hostname"),
          lit("1.2.3.4").as("server_ip"),
          lit("2.6.32-srv").as("server_kernel_version"),
          (k % 2 === 0).as("websockets"),
          (c % 2 === 0).as("tls"),
          col("o_orderdate").as("start_time")).as("connection"),
        struct(
          struct(clientIp.as("remote_ip"), lit(5201L).as("remote_port"),
            lit("1.2.3.4").as("local_ip"), lit(80L).as("local_port"))
            .as("connection_spec"),
          struct(
            ((k % 40) * 1000000L + 500000L).as("Duration"),
            when(k % 21 === 0, lit(null).cast("long")).otherwise(lit(1L))
              .as("State"),
            ((k % 40) * 500000L).as("SndLimTimeRwin"),
            ((k % 40) * 400000L).as("SndLimTimeCwnd"),
            ((k % 40) * 100000L).as("SndLimTimeSnd"),
            recv.as("HCThruOctetsReceived"),
            rtt.as("MinRTT")).as("snap")).as("web100")).as("raw"))

  private def round4(x: Column): Column =
    floor(x * 10000.0 + 0.5) / 10000.0

  private val (dateLo, dateHi) = ("1993-01-01", "1997-01-01")
  private def windowOn(c: Column): Column =
    c >= lit(dateLo).cast("timestamp") && c < lit(dateHi).cast("timestamp")
  private val dateWindow: Column = windowOn(col("date"))

  /** The three upload era branches in the reference union's per-branch
    * column list (unified_uploads.sql:74-83).
    */
  private def unifiedBranches(s: SparkSession, d: String): Seq[DataFrame] = {
    UnifiedViews.prepare(s)
    // cpuFloor: each era branch synthesizes a deep raw struct per order
    // row — expression-dense map work that serializes on a single-split
    // scan (round-18 A/B: qF5 1.34-1.41x; no-op at cluster scale)
    val orders = graft.plans.Parallel.cpuFloor(
      t(s, d, "orders"), "o_orderkey")
    Seq(
      UnifiedViews.extendedNdt7Uploads(ndt7Raw(orders)),
      UnifiedViews.extendedNdt5Uploads(ndt5Raw(orders),
        ndt5TcpInfo(orders, windowOn(col("o_orderdate")))),
      UnifiedViews.extendedWeb100Uploads(web100Raw(orders)))
      .map(_.select("id", "date", "a", "metadata", "client", "server",
        "filter"))
  }

  val all: Seq[GraftQuery] = Seq(
    GraftQuery(
      "qF5_unified_uploads",
      "Upload-direction unified chain: extended_ndt7/ndt5/web100_uploads " +
        "∪ unified_uploads — 'Unknown' CC, NULL LossRate, BytesReceived " +
        "size screen, no early-exit rescue, region-masked Geo rebuild, " +
        "per-era RFC1918/OAM quirks (unified_uploads.sql:42-90).",
      (s, d) => {
        UnifiedViews.unifiedUploads(unifiedBranches(s, d))
          .filter(dateWindow)
          .select(col("id"), to_date(col("date")).as("date"),
            col("metadata.View").as("view_name"),
            col("metadata.Protocol").as("protocol"),
            col("a.Direction").as("direction"),
            col("a.CongestionControl").as("cc"),
            round4(col("a.MeanThroughputMbps")).as("mbps"),
            round4(col("a.MinRTT")).as("min_rtt"),
            col("a.LossRate").as("loss_rate"),
            col("client.IP").as("client_ip"),
            col("client.Geo.Region").as("region"), // masked → NULL
            col("client.Geo.CountryCode").as("country"),
            col("server.Site").as("site"),
            col("server.Machine").as("machine"),
            array_join(col("metadata.ClientMetadata.Value"), "|")
              .as("meta_vals"),
            size(col("metadata.Tables")).cast("long").as("n_tables"),
            col("IsValid2021").as("is_valid_2021"))
          .orderBy("id")
      },
      Some("""WITH base AS (
             |  SELECT o_orderkey AS k, o_custkey AS c,
             |    CAST(o_orderdate AS DATE) AS d,
             |    o_orderpriority AS pri, o_orderstatus AS st,
             |    CAST(floor(o_totalprice * 100) AS BIGINT) % 100000 AS recv,
             |    o_custkey % 50 + 1 AS rtt,
             |    CASE WHEN o_orderkey % 7 = 0 THEN '10.0.0.1'
             |         WHEN o_orderkey % 17 = 0 THEN '2001:db8::1'
             |         WHEN o_orderkey % 29 = 0 THEN '35.193.254.117'
             |         ELSE '203.0.113.5' END AS cip
             |  FROM orders
             |  WHERE o_orderdate >= TIMESTAMP '1993-01-01'
             |    AND o_orderdate < TIMESTAMP '1997-01-01'
             |    AND o_orderkey % 10 != 0),
             |u AS (
             |  SELECT 'ndt7-' || CAST(k AS VARCHAR) AS id, d,
             |    'extended_ndt7_uploads' AS view_name,
             |    'ndt7' || CASE WHEN k % 17 = 0 THEN '-IPv6'
             |      ELSE '-IPv4' END || '-WSS' AS protocol,
             |    cip AS client_ip,
             |    (recv * 8.0) / CAST((k % 80 + 10) * 1000000 AS DOUBLE)
             |      AS mbps,
             |    rtt * 1.0 AS min_rtt,
             |    pri || '|' || st AS meta_vals,
             |    CAST(1 AS BIGINT) AS n_tables
             |  FROM base
             |  WHERE k % 3 = 0 AND k % 19 != 0 AND k % 7 != 0
             |    AND NOT (k % 29 = 0 AND k % 17 != 0)
             |    AND recv >= 8192 AND k % 80 <= 50
             |  UNION ALL
             |  SELECT 'ndt5-' || CAST(k AS VARCHAR), d,
             |    'extended_ndt5_uploads',
             |    'ndt5-' || CASE WHEN k % 7 != 0 AND k % 17 = 0
             |      THEN 'IPv6-' ELSE 'IPv4-' END ||
             |      CASE WHEN k % 2 = 0 THEN 'wss' ELSE 'plain-json' END,
             |    cip,
             |    (recv * 8.0) / CAST((k % 80) * 1000000 AS DOUBLE),
             |    rtt * 1.0,
             |    pri || '|' || st,
             |    CAST(2 AS BIGINT)
             |  FROM base
             |  WHERE k % 3 = 1 AND k % 11 != 0 AND k % 13 != 0
             |    AND k % 5 != 4
             |    AND NOT (k % 29 = 0 AND k % 7 != 0 AND k % 17 != 0)
             |    AND recv >= 8192 AND k % 80 BETWEEN 9 AND 60
             |  UNION ALL
             |  SELECT 'web100-' || CAST(k AS VARCHAR), d,
             |    'extended_web100_uploads',
             |    'Web100' || CASE WHEN k % 7 != 0 AND k % 17 = 0
             |      THEN '-IPv6' ELSE '-IPv4' END ||
             |      CASE WHEN k % 2 = 0 THEN
             |        CASE WHEN c % 2 = 0 THEN '-WSS' ELSE '-WS' END
             |      ELSE
             |        CASE WHEN c % 2 = 0 THEN '-SSL' ELSE '-PLAIN' END END,
             |    cip,
             |    (recv * 0.008) / (((k % 40) * 1000000 + 500000) * 0.001),
             |    rtt * 1.0,
             |    pri || '|' || st || '|host-' || CAST(k % 5 AS VARCHAR)
             |      || '|' || cip || '|2.6.32|linux|3.7.0',
             |    CAST(1 AS BIGINT)
             |  FROM base
             |  WHERE k % 3 = 2 AND k % 9 != 0 AND k % 21 != 0
             |    AND k % 7 != 0 AND recv >= 8192 AND k % 40 >= 9)
             |SELECT id, d AS date, view_name, protocol,
             |  'Upload' AS direction, 'Unknown' AS cc,
             |  floor(mbps * 10000.0 + 0.5) / 10000.0 AS mbps,
             |  floor(min_rtt * 10000.0 + 0.5) / 10000.0 AS min_rtt,
             |  CAST(NULL AS DOUBLE) AS loss_rate,
             |  client_ip, CAST(NULL AS VARCHAR) AS region,
             |  'US' AS country, 'lga03' AS site, 'mlab2' AS machine,
             |  meta_vals, n_tables, TRUE AS is_valid_2021
             |FROM u ORDER BY id""".stripMargin)),

    // The dated regression pin (views/ndt/unified_uploads_20201026x.sql):
    // a rename-projection variant mapping the modern Geo schema back to
    // the older snake_case production fields (Subdivision*/Missing
    // omitted — :42-45,:52) with `date AS test_date` beside `date`
    // (:82), deployed through the same pinnedVariants machinery as the
    // before/after A/B views (qB8). The 2020-era `node` column predates
    // our unified schema and is not carried.
    GraftQuery(
      "qF7_legacy_geo_variant",
      "Dated-pin legacy view (unified_uploads_20201026x): Geo fields " +
        "renamed to the older snake_case schema via a pinned " +
        "ViewRegistry variant over the deployed uploads view, " +
        "test_date alias included.",
      (s, d) => {
        import graft.catalog.{ViewDef, ViewRegistry}
        UnifiedViews.unifiedUploads(unifiedBranches(s, d))
          .filter(dateWindow)
          .createOrReplaceTempView("uu_unified")
        def legacyGeo(side: String): String =
          Seq("ContinentCode" -> "continent_code",
            "CountryCode" -> "country_code",
            "CountryCode3" -> "country_code3",
            "CountryName" -> "country_name", "Region" -> "region",
            "MetroCode" -> "metro_code", "City" -> "city",
            "AreaCode" -> "area_code", "PostalCode" -> "postal_code",
            "Latitude" -> "latitude", "Longitude" -> "longitude",
            "AccuracyRadiusKm" -> "radius")
            .map { case (m, l) => s"$side.Geo.$m AS $l" }
            .mkString("struct(", ", ", ") AS Geo")
        val reg = new ViewRegistry(s)
        val base = ViewDef("uu_unified",
          s"""SELECT id, date, a,
             |  struct(client.IP AS IP, client.Port AS Port,
             |    ${legacyGeo("client")},
             |    client.Network AS Network) AS client,
             |  struct(server.IP AS IP, server.Port AS Port,
             |    server.Site AS Site, server.Machine AS Machine,
             |    ${legacyGeo("server")},
             |    server.Network AS Network) AS server,
             |  date AS test_date
             |FROM {{.Base}}""".stripMargin)
        val variant = reg.pinnedVariants(base,
          Seq("20201026x" -> Map("Base" -> "uu_unified")))
        reg.deployAll(variant)
        s.sql(
          """SELECT id, CAST(test_date AS DATE) AS test_date,
            |  client.Geo.continent_code AS continent_code,
            |  client.Geo.country_code AS country_code,
            |  client.Geo.country_code3 AS country_code3,
            |  client.Geo.country_name AS country_name,
            |  client.Geo.region AS region,
            |  client.Geo.metro_code AS metro_code,
            |  client.Geo.city AS city,
            |  client.Geo.area_code AS area_code,
            |  client.Geo.postal_code AS postal_code,
            |  client.Geo.latitude AS latitude,
            |  client.Geo.longitude AS longitude,
            |  client.Geo.radius AS radius,
            |  server.Site AS site
            |FROM uu_unified_20201026x ORDER BY id""".stripMargin)
      },
      Some("""WITH base AS (
             |  SELECT o_orderkey AS k, o_custkey AS c,
             |    CAST(o_orderdate AS DATE) AS d,
             |    CAST(floor(o_totalprice * 100) AS BIGINT) % 100000 AS recv
             |  FROM orders
             |  WHERE o_orderdate >= TIMESTAMP '1993-01-01'
             |    AND o_orderdate < TIMESTAMP '1997-01-01'
             |    AND o_orderkey % 10 != 0),
             |u AS (
             |  SELECT 'ndt7-' || CAST(k AS VARCHAR) AS id, d, c
             |  FROM base
             |  WHERE k % 3 = 0 AND k % 19 != 0 AND k % 7 != 0
             |    AND NOT (k % 29 = 0 AND k % 17 != 0)
             |    AND recv >= 8192 AND k % 80 <= 50
             |  UNION ALL
             |  SELECT 'ndt5-' || CAST(k AS VARCHAR), d, c
             |  FROM base
             |  WHERE k % 3 = 1 AND k % 11 != 0 AND k % 13 != 0
             |    AND k % 5 != 4
             |    AND NOT (k % 29 = 0 AND k % 7 != 0 AND k % 17 != 0)
             |    AND recv >= 8192 AND k % 80 BETWEEN 9 AND 60
             |  UNION ALL
             |  SELECT 'web100-' || CAST(k AS VARCHAR), d, c
             |  FROM base
             |  WHERE k % 3 = 2 AND k % 9 != 0 AND k % 21 != 0
             |    AND k % 7 != 0 AND recv >= 8192 AND k % 40 >= 9)
             |SELECT id, d AS test_date,
             |  'NA' AS continent_code, 'US' AS country_code,
             |  'USA' AS country_code3, 'United States' AS country_name,
             |  CAST(NULL AS VARCHAR) AS region,
             |  c % 100 AS metro_code, 'NYC' AS city,
             |  CAST(212 AS BIGINT) AS area_code, '10001' AS postal_code,
             |  CAST(40.7 AS DOUBLE) AS latitude,
             |  CAST(-74.0 AS DOUBLE) AS longitude,
             |  CAST(100 AS BIGINT) AS radius, 'lga03' AS site
             |FROM u ORDER BY id""".stripMargin)),

    // The regression-comparison a view owner runs over a dated pin:
    // the 2021-09-22 shape (no vintage columns, validity from the
    // filter flags — unified_uploads_20210922x.sql) must select the
    // SAME ROWS as today's view; only the output schema differs. The
    // diff is a full-outer id match — any drift shows as a non-zero
    // only_* count.
    GraftQuery(
      "qH1_dated_pin_diff",
      "A/B row-set diff between unified_uploads and its 2021-09-22 " +
        "dated pin: matching ids plus both only-sides (expected 0).",
      (s, d) => {
        val branches = unifiedBranches(s, d)
        val modern = UnifiedViews.unifiedUploads(branches)
          .filter(dateWindow).select(col("id").as("mid"))
        val pinned = UnifiedViews.unifiedUploads20210922x(branches)
          .filter(dateWindow).select(col("id").as("pid"))
        modern.join(pinned, col("mid") === col("pid"), "full_outer")
          .agg(
            count(col("mid")).as("n_modern"),
            count(col("pid")).as("n_pinned"),
            sum(when(col("pid").isNull, 1L).otherwise(0L))
              .as("n_only_modern"),
            sum(when(col("mid").isNull, 1L).otherwise(0L))
              .as("n_only_pinned"))
      },
      Some("""WITH base AS (
             |  SELECT o_orderkey AS k,
             |    CAST(floor(o_totalprice * 100) AS BIGINT) % 100000
             |      AS recv
             |  FROM orders
             |  WHERE o_orderdate >= TIMESTAMP '1993-01-01'
             |    AND o_orderdate < TIMESTAMP '1997-01-01'
             |    AND o_orderkey % 10 != 0),
             |u AS (
             |  SELECT k FROM base
             |  WHERE k % 3 = 0 AND k % 19 != 0 AND k % 7 != 0
             |    AND NOT (k % 29 = 0 AND k % 17 != 0)
             |    AND recv >= 8192 AND k % 80 <= 50
             |  UNION ALL
             |  SELECT k FROM base
             |  WHERE k % 3 = 1 AND k % 11 != 0 AND k % 13 != 0
             |    AND k % 5 != 4
             |    AND NOT (k % 29 = 0 AND k % 7 != 0 AND k % 17 != 0)
             |    AND recv >= 8192 AND k % 80 BETWEEN 9 AND 60
             |  UNION ALL
             |  SELECT k FROM base
             |  WHERE k % 3 = 2 AND k % 9 != 0 AND k % 21 != 0
             |    AND k % 7 != 0 AND recv >= 8192 AND k % 40 >= 9)
             |SELECT CAST(count(*) AS BIGINT) AS n_modern,
             |  CAST(count(*) AS BIGINT) AS n_pinned,
             |  CAST(0 AS BIGINT) AS n_only_modern,
             |  CAST(0 AS BIGINT) AS n_only_pinned
             |FROM u""".stripMargin)),

    // The website uploads-direction decile rollup
    // (views/website/entry07_platform_decile_uploads_dedup_daily_after
    // .sql:1, _before.sql:1): per-era best-test-per-client dedup (W1,
    // the raw_*_remote ROW_NUMBER), grouped deciles over the deduped
    // set (A5), exploded WITH OFFSET, then the two era frames joined
    // per (period, decile) exactly as the reference joins
    // ndt5_quantiles x web100_quantiles. The reference's before/after
    // pair differs only by date window (and site regex); the fixture
    // mirrors that as a before/after split of the covered range, both
    // periods in one frame. Client identity stands in as
    // IP + MetroCode (the fixture's per-client key; the reference uses
    // remote_ip). mbps is 4dp-snapped BEFORE ranking/deciling so both
    // engines order and interpolate identical doubles.
    GraftQuery(
      "qO7_uploads_decile_rollup",
      "Uploads decile-dedup rollup: top-1 per client per era period " +
        "-> grouped exact deciles -> WITH OFFSET explode -> ndt5/web100 " +
        "era join, before/after periods (W1+A5+posexplode, " +
        "entry07_platform_decile_uploads_dedup_daily_after.sql:1).",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val uu = UnifiedViews.unifiedUploads(unifiedBranches(s, d))
          .filter(dateWindow)
        val base = uu
          .filter(col("metadata.View").isin(
            "extended_ndt5_uploads", "extended_web100_uploads"))
          .select(
            when(col("date") < lit("1996-01-01").cast("timestamp"),
              "before").otherwise("after").as("period"),
            col("metadata.View").as("view_name"),
            concat(col("client.IP"), lit("-"),
              col("client.Geo.MetroCode").cast("string"))
              .as("client_key"),
            round4(col("a.MeanThroughputMbps")).as("mbps4"),
            col("id"))
        val best = base.withColumn("rn", row_number().over(
            Window.partitionBy("period", "view_name", "client_key")
              .orderBy(col("mbps4").desc, col("id").asc)))
          .filter(col("rn") === 1)
        // bounded post-agg frame (periods x eras x 11), checkpointed so
        // the two era filters below read it instead of re-running the
        // whole upload chain twice
        val decs = graft.plans.Fence.bounded(best
          .groupBy("period", "view_name")
          .agg(count(lit(1)).as("uploads"),
            expr("percentile(mbps4, array(0.0,0.1,0.2,0.3,0.4,0.5," +
              "0.6,0.7,0.8,0.9,1.0))").as("qs"))
          .select(col("period"), col("view_name"), col("uploads"),
            posexplode(col("qs")).as(Seq("decile", "qv"))))
        val n5 = decs
          .filter(col("view_name") === "extended_ndt5_uploads")
          .select(col("period"), col("decile"),
            col("uploads").as("ndt5_uploads"), round4(col("qv")).as("ndt5"))
        val w1 = decs
          .filter(col("view_name") === "extended_web100_uploads")
          .select(col("period"), col("decile"),
            col("uploads").as("web100_uploads"),
            round4(col("qv")).as("web100"))
        n5.join(w1, Seq("period", "decile"))
          .select(col("period"), col("decile"), col("ndt5_uploads"),
            col("web100_uploads"), col("ndt5"), col("web100"))
          .orderBy("period", "decile")
      },
      Some("""WITH base AS (
             |  SELECT o_orderkey AS k, o_custkey AS c,
             |    CAST(o_orderdate AS DATE) AS d,
             |    CAST(floor(o_totalprice * 100) AS BIGINT) % 100000
             |      AS recv,
             |    CASE WHEN o_orderkey % 7 = 0 THEN '10.0.0.1'
             |         WHEN o_orderkey % 17 = 0 THEN '2001:db8::1'
             |         WHEN o_orderkey % 29 = 0 THEN '35.193.254.117'
             |         ELSE '203.0.113.5' END AS cip
             |  FROM orders
             |  WHERE o_orderdate >= TIMESTAMP '1993-01-01'
             |    AND o_orderdate < TIMESTAMP '1997-01-01'
             |    AND o_orderkey % 10 != 0),
             |u AS (
             |  SELECT 'ndt5-' || CAST(k AS VARCHAR) AS id, d, c, cip,
             |    'extended_ndt5_uploads' AS view_name,
             |    (recv * 8.0) / CAST((k % 80) * 1000000 AS DOUBLE)
             |      AS mbps
             |  FROM base
             |  WHERE k % 3 = 1 AND k % 11 != 0 AND k % 13 != 0
             |    AND k % 5 != 4
             |    AND NOT (k % 29 = 0 AND k % 7 != 0 AND k % 17 != 0)
             |    AND recv >= 8192 AND k % 80 BETWEEN 9 AND 60
             |  UNION ALL
             |  SELECT 'web100-' || CAST(k AS VARCHAR), d, c, cip,
             |    'extended_web100_uploads',
             |    (recv * 0.008) / (((k % 40) * 1000000 + 500000) * 0.001)
             |  FROM base
             |  WHERE k % 3 = 2 AND k % 9 != 0 AND k % 21 != 0
             |    AND k % 7 != 0 AND recv >= 8192 AND k % 40 >= 9),
             |v AS (
             |  SELECT CASE WHEN d < DATE '1996-01-01' THEN 'before'
             |      ELSE 'after' END AS period,
             |    view_name,
             |    cip || '-' || CAST(c % 100 AS VARCHAR) AS client_key,
             |    floor(mbps * 10000.0 + 0.5) / 10000.0 AS mbps4, id
             |  FROM u),
             |best AS (
             |  SELECT * FROM (
             |    SELECT *, row_number() OVER (
             |      PARTITION BY period, view_name, client_key
             |      ORDER BY mbps4 DESC, id) AS rn
             |    FROM v) WHERE rn = 1),
             |g AS (
             |  SELECT period, view_name,
             |    CAST(count(*) AS BIGINT) AS uploads,
             |    quantile_cont(mbps4, [0.0,0.1,0.2,0.3,0.4,0.5,
             |      0.6,0.7,0.8,0.9,1.0]) AS qs
             |  FROM best GROUP BY 1, 2),
             |e AS (
             |  SELECT period, view_name, uploads,
             |    CAST(r.range AS INT) AS decile,
             |    floor(qs[CAST(r.range AS INT) + 1] * 10000.0 + 0.5)
             |      / 10000.0 AS qv
             |  FROM g, range(11) r)
             |SELECT n5.period, n5.decile,
             |  n5.uploads AS ndt5_uploads, w1.uploads AS web100_uploads,
             |  n5.qv AS ndt5, w1.qv AS web100
             |FROM e n5 JOIN e w1
             |  ON n5.period = w1.period AND n5.decile = w1.decile
             |WHERE n5.view_name = 'extended_ndt5_uploads'
             |  AND w1.view_name = 'extended_web100_uploads'
             |ORDER BY n5.period, n5.decile""".stripMargin)),

    // The website uploads-direction hourly rollup
    // (views/website/entry07_platform_hourly_uploads_after.sql:1,
    // _before.sql:1): per-(hour, era) test counts over ALL upload eras
    // unioned — the reference's web100_hosts UNION ALL ndt5_hosts with
    // TIMESTAMP_TRUNC(start_time, hour); here the era union is inherent
    // in unified_uploads and the ndt7 leg joins the mlab[123] breadth.
    GraftQuery(
      "qO8_uploads_hourly_rollup",
      "Uploads hourly rollup: per-hour per-era test counts over the " +
        "unified uploads union " +
        "(entry07_platform_hourly_uploads_after.sql:1).",
      (s, d) => {
        UnifiedViews.unifiedUploads(unifiedBranches(s, d))
          .filter(dateWindow)
          .groupBy(
            date_trunc("hour", col("date")).cast("timestamp_ntz")
              .as("hour"),
            col("metadata.View").as("view_name"))
          .agg(count(lit(1)).as("n_tests"))
          .orderBy("hour", "view_name")
      },
      Some("""WITH base AS (
             |  SELECT o_orderkey AS k, CAST(o_orderdate AS DATE) AS d,
             |    CAST(floor(o_totalprice * 100) AS BIGINT) % 100000
             |      AS recv
             |  FROM orders
             |  WHERE o_orderdate >= TIMESTAMP '1993-01-01'
             |    AND o_orderdate < TIMESTAMP '1997-01-01'
             |    AND o_orderkey % 10 != 0),
             |u AS (
             |  SELECT d, 'extended_ndt7_uploads' AS view_name FROM base
             |  WHERE k % 3 = 0 AND k % 19 != 0 AND k % 7 != 0
             |    AND NOT (k % 29 = 0 AND k % 17 != 0)
             |    AND recv >= 8192 AND k % 80 <= 50
             |  UNION ALL
             |  SELECT d, 'extended_ndt5_uploads' FROM base
             |  WHERE k % 3 = 1 AND k % 11 != 0 AND k % 13 != 0
             |    AND k % 5 != 4
             |    AND NOT (k % 29 = 0 AND k % 7 != 0 AND k % 17 != 0)
             |    AND recv >= 8192 AND k % 80 BETWEEN 9 AND 60
             |  UNION ALL
             |  SELECT d, 'extended_web100_uploads' FROM base
             |  WHERE k % 3 = 2 AND k % 9 != 0 AND k % 21 != 0
             |    AND k % 7 != 0 AND recv >= 8192 AND k % 40 >= 9)
             |SELECT CAST(d AS TIMESTAMP) AS hour, view_name,
             |  CAST(count(*) AS BIGINT) AS n_tests
             |FROM u GROUP BY 1, 2
             |ORDER BY hour, view_name""".stripMargin))
  )
}
