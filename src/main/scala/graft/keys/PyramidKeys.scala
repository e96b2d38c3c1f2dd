package graft
package keys

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.analog.{OccurrenceAnalog => OA}
import graft.expr.{BorYear, Salt}
import graft.tiles._

/** The reference's own operator set (SURVEY §2): occurrence scan and quality
  * filter, map-view explode, BorYear encoding, pixel projection, salted
  * skew handling, tile addressing and collection, threshold joins, sorted
  * sinks and the spatial layouts.
  */
private[graft] object PyramidKeys {
  import KeySupport._
  import SparkEntry.{TileSize, BufferSize, SaltModulo, Threshold}

  /** Pre-aggregated (map_key, lat, lng, bor_year) counts (A2 / prepareInput). */
  private def preAgg(s: SparkSession, d: String): DataFrame =
    Pyramid.prepareInput(occ(s, d), OA.mapKeysArray)
      .withColumnRenamed("mapKey", "map_key")
      .withColumnRenamed("borYear", "bor_year")
      .withColumnRenamed("occCount", "occ_count")

  /** `skew_salt_plan` heavy-key threshold: keys above this multiple of the
    * mean group size get a salt factor (shared with the oracle).
    */
  private val SaltPlanMult = 4L

  /** `zonemap_prune` pseudo-file width (orders per bucket) and the scan
    * predicate's cutoff day (1999-01-01 as epoch days) — shared with the
    * oracle.
    */
  private val ZoneBucketOrders = 1000L
  private val PruneCutoffDay = 10592L

  /** lat/lng scaled to exact ints for oracle-stable output (doubles stringify
    * differently across engines; ×100 is exact on this fixture grid).
    */
  private def latC: Column = round(col("lat") * 100).cast("int").as("lat_c")
  private def lngC: Column = round(col("lng") * 100).cast("int").as("lng_c")

  private def projectPixelQuery(proj: Projection, zoom: Int)
      : (SparkSession, String) => DataFrame =
    (s, d) =>
      occ(s, d)
        .select(col("event_id"),
          proj.globalPixel(col("lat"), col("lng"), zoom, TileSize).as("xy"))
        .select(col("event_id"), col("xy.x").as("px"), col("xy.y").as("py"))
        .orderBy("event_id")

  private def sqlProjectPixel(proj: Projection, zoom: Int): String =
    sqlOcc +
      s"""SELECT event_id,
         |  ${proj.sqlGlobalPixelX("lat", "lng", zoom, TileSize)} AS px,
         |  ${proj.sqlGlobalPixelY("lat", "lng", zoom, TileSize)} AS py
         |FROM occ ORDER BY event_id""".stripMargin

  /** CTE `pix`: exploded view rows with global pixel columns at (proj, zoom). */
  private def sqlPixelCte(proj: Projection, zoom: Int): String =
    s""", pix AS (
       |  SELECT event_id, map_key,
       |    ${BorYear.sqlEncode("event_type", "yr")} AS bor_year,
       |    ${proj.sqlGlobalPixelX("lat", "lng", zoom, TileSize)} AS px,
       |    ${proj.sqlGlobalPixelY("lat", "lng", zoom, TileSize)} AS py
       |  FROM (SELECT event_id, event_type, yr, lat, lng, unnest(mks) AS map_key FROM occ))
       |""".stripMargin

  private def sqlCollectTile(proj: Projection, zoom: Int): String = {
    val adr = TileAddressing(proj, TileSize, BufferSize)
    sqlOcc + sqlPixelCte(proj, zoom) +
      s""", pc AS (
         |  SELECT map_key, px, py, bor_year, count(*) AS cnt
         |  FROM pix WHERE px IS NOT NULL GROUP BY 1, 2, 3, 4),
         |pf AS (
         |  SELECT map_key, px, py,
         |    array_to_string(
         |      list_sort(list(bor_year::VARCHAR || ':' || cnt::VARCHAR)),
         |      ';') AS feat_str
         |  FROM pc GROUP BY 1, 2, 3),
         |adr AS (
         |  SELECT map_key, feat_str, unnest(${adr.sqlAddresses(zoom, "px", "py")}) AS t
         |  FROM pf),
         |cells AS (
         |  SELECT ${Salt.sqlTileKey("map_key", zoom.toString, "t['tileX']", "t['tileY']", SaltModulo)} AS key,
         |    t['pixelX'] AS x, t['pixelY'] AS y, feat_str
         |  FROM adr)
         |SELECT key,
         |  array_to_string(
         |    list_sort(list(x::VARCHAR || ',' || y::VARCHAR || '|' || feat_str)),
         |    '#') AS tile_str
         |FROM cells GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** Oracle SQL for an occurrence row's BorYear code. */
  private lazy val enc: String = BorYear.sqlEncode("event_type", "yr")

  val keys: Seq[Key] = Seq(
    // ---- S1/S2: scan + projection + quality filter (MapBuilder.java:134-164)
    Key("scan_project", (s, d) =>
      occ(s, d)
        .select(
          col("event_id"), col("user_id"), col("lat"), col("lng"),
          col("basisOfRecord").as("bor"), col("year").as("yr"),
          OA.datasetKey.as("dataset_key"), OA.publisherKey.as("publisher_key"),
          OA.countryCode.as("country_code"), OA.pubCountry.as("pub_country"),
          array_join(coalesce(OA.networkKeys, array()), ",").as("network_keys"))
        .orderBy("event_id"),
      () => sqlOcc +
        s"""SELECT event_id, user_id, lat, lng, event_type AS bor, yr,
           |  ${OA.sqlDatasetKey} AS dataset_key, ${OA.sqlPublisherKey} AS publisher_key,
           |  ${OA.sqlCountryCode} AS country_code, ${OA.sqlPubCountry} AS pub_country,
           |  COALESCE(array_to_string(${OA.sqlNetworkKeys}, ','), '') AS network_keys
           |FROM occ ORDER BY event_id""".stripMargin),

    Key("filter_quality", (s, d) =>
      events(s, d).filter(OA.qualityFilter)
        .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
        .orderBy("event_type"),
      () =>
        s"""SELECT event_type, count(*) AS n FROM events
           |WHERE ${OA.sqlQualityFilter} GROUP BY 1 ORDER BY 1""".stripMargin),

    // ---- S3: fixed-width repartition (MapBuilder.java:166-169) — content-
    // preserving; verified via a post-shuffle aggregation.
    Key("repartition_fixed", (s, d) =>
      occ(s, d).repartition(32)
        .groupBy(col("year").as("yr"))
        .agg(count(lit(1)).as("n"), sum("user_id").as("uid_sum"))
        .orderBy("yr"),
      // sum(user_id)::BIGINT: DuckDB's sum(BIGINT) yields HUGEINT, which
      // pandas materializes as float64 and breaks the driver's dtype-
      // sensitive hash even though values match.
      () => sqlOcc +
        "SELECT yr, count(*) AS n, sum(user_id)::BIGINT AS uid_sum FROM occ GROUP BY 1 ORDER BY 1"),

    // ---- G1: map-view fan-out (MapKeysUDF.java:99-151)
    Key("explode_map_keys", (s, d) =>
      exploded(s, d).orderBy("event_id", "map_key"),
      () => sqlOcc +
        "SELECT event_id, map_key FROM ex ORDER BY 1, 2"),

    // ---- F1: borYear codec (EncodeBorYearUDF.java:28-71)
    Key("encode_bor_year", (s, d) => {
      val enc = BorYear.encode(col("event_type"), col("year"))
      occ(s, d)
        .select(
          col("event_id"), enc.as("bor_year"),
          BorYear.decodeYear(enc).as("yr"), BorYear.decodeBor(enc).as("bor"))
        .orderBy("event_id")
    },
      () => sqlOcc +
        s"""SELECT event_id, $enc AS bor_year,
           |  ${BorYear.sqlDecodeYear(enc)} AS yr,
           |  ${BorYear.sqlDecodeBor(enc)} AS bor
           |FROM occ ORDER BY event_id""".stripMargin),

    // ---- F2: global pixel projection, all four SRS (GlobalPixelUDF.java:31-58)
    Key("project_pixel_3857", projectPixelQuery(Mercator3857, 8),
      () => sqlProjectPixel(Mercator3857, 8)),

    Key("project_pixel_4326", projectPixelQuery(PlateCarree4326, 8),
      () => sqlProjectPixel(PlateCarree4326, 8)),

    Key("project_pixel_3575", projectPixelQuery(NorthPolarLaea3575, 6),
      () => sqlProjectPixel(NorthPolarLaea3575, 6)),

    Key("project_pixel_3031", projectPixelQuery(SouthPolarStereo3031, 6),
      () => sqlProjectPixel(SouthPolarStereo3031, 6)),

    // ---- F3/F4: salted keys (HBaseKeyUDF.java:41-59)
    // The md5 salt key is projected AFTER the total-order sort (opt guide
    // §2.3 "project before the exchange", inverted for derived columns):
    // with the key inside the pre-sort projection, the range partitioner's
    // sampling pass re-executed scan+explode+md5 a second time and the
    // ~60-byte key string rode the range exchange; post-sort projection
    // computes the md5 exactly once and shuffles only (event_id, map_key).
    // Row set and final order are unchanged (the sort keys are untouched).
    Key("hbase_key_tile", (s, d) =>
      exploded(s, d)
        .orderBy("event_id", "map_key")
        .select(col("event_id"), col("map_key"),
          Salt.tileKey(col("map_key"), lit(3),
            (col("event_id") % 8).cast("int"), (col("event_id") % 5).cast("int"),
            SaltModulo).as("key")),
      () => sqlOcc +
        s"""SELECT event_id, map_key,
           |  ${Salt.sqlTileKey("map_key", "3", "(event_id % 8)", "(event_id % 5)", SaltModulo)} AS key
           |FROM ex ORDER BY 1, 2""".stripMargin),

    Key("hbase_key_point", (s, d) =>
      exploded(s, d).select(col("map_key")).distinct()
        .select(col("map_key"), Salt.pointKey(col("map_key"), SaltModulo).as("key"))
        .orderBy("map_key"),
      () => sqlOcc +
        s"""SELECT map_key, ${Salt.sqlSalted("map_key", SaltModulo)} AS key
           |FROM (SELECT DISTINCT map_key FROM ex) ORDER BY 1""".stripMargin),

    // ---- A1: per-view counts + threshold (MapBuilder.java:180-206)
    Key("agg_count_by_view", (s, d) =>
      exploded(s, d)
        .groupBy("map_key").agg(count(lit(1)).as("occ_count"))
        .filter(col("occ_count") >= Threshold)
        .orderBy("map_key"),
      () => sqlOcc +
        s"""SELECT map_key, count(*) AS occ_count FROM ex
           |GROUP BY 1 HAVING count(*) >= $Threshold ORDER BY 1""".stripMargin),

    // Salted two-phase aggregation over the structurally skewed map_key
    // (the ALL view carries EVERY record, MapKeysUDF.java:115, so a plain
    // group-by parks the whole dataset on one reducer): phase 1 splits each
    // key across 8 deterministic salt buckets, phase 2 merges partials.
    // Values are identical to the direct group-by — exactly what the
    // oracle pins — while no reducer ever holds a hot key alone.
    Key("agg_skew_salted", (s, d) =>
      graft.ops.Skew.saltedAgg(exploded(s, d), Seq("map_key"), col("event_id"), 8)(
        Seq(count(lit(1)).as("c1")),
        Seq(sum("c1").as("n_events")))
        .orderBy("map_key"),
      // the salted two-phase agg must be value-identical to the direct
      // group-by; sum of per-salt counts widens to HUGEINT in DuckDB, so
      // pin BIGINT like every other summed-count oracle
      () => sqlOcc +
        """SELECT map_key, count(*)::BIGINT AS n_events
          |FROM ex GROUP BY 1 ORDER BY 1""".stripMargin),

    // Salted equi-join against the same structural skew: the left
    // (exploded events) gets a deterministic salt, the moderate right side
    // (per-view coordinate stats — too large to broadcast at corpus scale)
    // replicates across the 8 salt buckets, so the hot view's probe rows
    // spread over 8 reducers. Results identical to the plain join.
    Key("join_skew_salted", (s, d) => {
      val stats = preAgg(s, d).groupBy("map_key")
        .agg(count(lit(1)).as("n_coords"))
      graft.ops.Skew.saltedJoin(exploded(s, d), stats, "map_key", col("event_id"), 8)
        .groupBy("map_key")
        .agg(count(lit(1)).as("n_events"), max("n_coords").as("n_coords"))
        .orderBy("map_key")
    },
      () => sqlOcc +
        """SELECT map_key, count(*)::BIGINT AS n_events, max(n_coords) AS n_coords
          |FROM ex JOIN (SELECT map_key, count(*)::BIGINT AS n_coords
          |              FROM pre GROUP BY 1) stats USING (map_key)
          |GROUP BY 1 ORDER BY 1""".stripMargin),

    // Key-size histogram over the structurally-skewed map_key fan-out (the
    // ALL view holds every record) — the ≤64-row report read BEFORE
    // choosing a salt factor. Bucket = floor(log2 n) via exact bit
    // arithmetic (length(bin(n))-1): a float log2 flips bucket boundaries
    // at exact powers of two across engines.
    Key("skew_histogram", (s, d) =>
      graft.ops.Skew.sizeHistogram(exploded(s, d), "map_key")
        .orderBy("bucket"),
      () =>
        (sqlOcc + graft.ops.Skew.sqlSizeHistogram("ex", "map_key"))),

    // Per-heavy-key salt plan: keys above SaltPlanMult× the mean group size
    // with the exact-integer salt factor that spreads them to mean-sized
    // reducer shares — the config agg_skew_salted/join_skew_salted consume.
    Key("skew_salt_plan", (s, d) =>
      graft.ops.Skew.saltPlan(exploded(s, d), "map_key", SaltPlanMult)
        .orderBy("map_key"),
      () =>
        (sqlOcc + graft.ops.Skew.sqlSaltPlan("ex", "map_key", SaltPlanMult))),

    // ---- A2: the core pre-aggregation (TileMapBuilder.java:86-104)
    Key("agg_count_by_coord", (s, d) =>
      preAgg(s, d)
        .select(col("map_key"), latC, lngC, col("bor_year"), col("occ_count"))
        .orderBy("map_key", "lat_c", "lng_c", "bor_year"),
      () => sqlOcc +
        s"""SELECT map_key, round(lat * 100)::INTEGER AS lat_c,
           |  round(lng * 100)::INTEGER AS lng_c, bor_year, occ_count
           |FROM pre ORDER BY 1, 2, 3, 4""".stripMargin),

    // ---- A3: per-pixel sums at zoom 4 (TileMapBuilder.java:113-127)
    // Round 12: t1 via pixelCountsDirect — the standalone single-zoom
    // query never reuses the lat/lng-grain pre-aggregation, so the
    // intermediate exchange bought nothing (2 exchanges -> 1, identical
    // values; the pipeline's shared-CTAS path keeps prepareInput).
    Key("agg_sum_by_pixel", (s, d) => {
      val t1 = Pyramid.pixelCountsDirect(occ(s, d), OA.mapKeysArray,
        Mercator3857, 4, TileSize)
      t1.filter(col("xy").isNotNull)
        .select(col("mapKey").as("map_key"),
          col("xy.x").as("px"), col("xy.y").as("py"),
          col("borYearCount.borYear").as("bor_year"),
          col("borYearCount.occCount").as("occ_count"))
        .orderBy("map_key", "px", "py", "bor_year")
    },
      () => sqlOcc + sqlPixelCte(Mercator3857, 4) +
        """SELECT map_key, px, py, bor_year, count(*) AS occ_count
          |FROM pix WHERE px IS NOT NULL
          |GROUP BY 1, 2, 3, 4 ORDER BY 1, 2, 3, 4""".stripMargin),

    // ---- A4: per-pixel feature collection at zoom 2 (TileMapBuilder.java:130-136)
    // Each feature is serialized to its canonical string BEFORE collecting:
    // sorting strings is a codegen-cheap binary compare, while
    // array_sort(collect_list(struct)) runs an interpreted struct comparator
    // (measured ~2× the stage cost). Same grouping topology and determinism.
    Key("agg_collect_pixel_features", (s, d) => {
      // t1 via pixelCountsDirect — see agg_sum_by_pixel note
      val t1 = Pyramid.pixelCountsDirect(occ(s, d), OA.mapKeysArray,
        Mercator3857, 2, TileSize)
      t1.filter(col("xy").isNotNull)
        .select(col("mapKey").as("map_key"),
          col("xy.x").as("px"), col("xy.y").as("py"),
          concat_ws(":", col("borYearCount.borYear").cast("string"),
                         col("borYearCount.occCount").cast("string")).as("f"))
        .groupBy("map_key", "px", "py")
        .agg(array_join(sort_array(collect_list(col("f"))), ";").as("features_str"))
        .orderBy("map_key", "px", "py")
    },
      () => sqlOcc + sqlPixelCte(Mercator3857, 2) +
        """, pc AS (
          |  SELECT map_key, px, py, bor_year, count(*) AS cnt
          |  FROM pix WHERE px IS NOT NULL GROUP BY 1, 2, 3, 4)
          |SELECT map_key, px, py,
          |  array_to_string(
          |    list_sort(list(bor_year::VARCHAR || ':' || cnt::VARCHAR)),
          |    ';') AS features_str
          |FROM pc GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin),

    // ---- G2: buffered tile re-addressing at zoom 2 (TileXYUDF.java:74-229)
    Key("explode_tile_addresses", (s, d) => {
      val adr = TileAddressing(Mercator3857, TileSize, BufferSize)
      occ(s, d)
        .select(col("event_id"),
          Mercator3857.globalPixel(col("lat"), col("lng"), 2, TileSize).as("xy"))
        .filter(col("xy").isNotNull)
        .select(col("event_id"),
          explode(adr.addresses(2, col("xy.x"), col("xy.y"))).as("t"))
        .select(col("event_id"),
          col("t.tileX").as("tile_x"), col("t.tileY").as("tile_y"),
          col("t.pixelX").as("pixel_x"), col("t.pixelY").as("pixel_y"))
        .orderBy("event_id", "tile_x", "tile_y", "pixel_x", "pixel_y")
    },
      () => sqlOcc +
        s""", epix AS (
           |  SELECT event_id,
           |    ${Mercator3857.sqlGlobalPixelX("lat", "lng", 2, TileSize)} AS px,
           |    ${Mercator3857.sqlGlobalPixelY("lat", "lng", 2, TileSize)} AS py
           |  FROM occ),
           |adr AS (
           |  SELECT event_id,
           |    unnest(${TileAddressing(Mercator3857, TileSize, BufferSize).sqlAddresses(2, "px", "py")}) AS t
           |  FROM epix WHERE px IS NOT NULL)
           |SELECT event_id, t['tileX'] AS tile_x, t['tileY'] AS tile_y,
           |  t['pixelX'] AS pixel_x, t['pixelY'] AS pixel_y
           |FROM adr ORDER BY 1, 2, 3, 4, 5""".stripMargin),

    // ---- A5: full tile assembly at zoom 1 (TileMapBuilder.java:139-156)
    // String-serialized pre-collect, as in A4 (struct path stays exercised
    // by MapPipeline/PipelineSpec, where Sinks.encodeTiles needs structs).
    Key("agg_collect_tile", (s, d) => {
      val zoom = 1
      // t1 via pixelCountsDirect — see agg_sum_by_pixel note
      val t1 = Pyramid.pixelCountsDirect(occ(s, d), OA.mapKeysArray,
        Mercator3857, zoom, TileSize)
      val t2s = t1.filter(col("xy").isNotNull)
        .select(col("mapKey"), col("xy"),
          concat_ws(":", col("borYearCount.borYear").cast("string"),
                         col("borYearCount.occCount").cast("string")).as("f"))
        .groupBy("mapKey", "xy")
        .agg(array_join(sort_array(collect_list(col("f"))), ";").as("features_str"))
      val adr = TileAddressing(Mercator3857, TileSize, BufferSize)
      t2s.select(col("mapKey"),
          explode(adr.addresses(zoom, col("xy.x"), col("xy.y"))).as("t"),
          col("features_str"))
        .select(
          Salt.tileKey(col("mapKey"), lit(zoom), col("t.tileX"), col("t.tileY"),
            SaltModulo).as("key"),
          concat_ws("|",
            concat_ws(",", col("t.pixelX").cast("string"),
                           col("t.pixelY").cast("string")),
            col("features_str")).as("p"))
        .groupBy("key")
        .agg(array_join(sort_array(collect_list(col("p"))), "#").as("tile_str"))
        .orderBy("key")
    },
      () => sqlCollectTile(Mercator3857, 1)),

    // ---- A6/F4: point-map path (PointMapBuilder.java:49-93) —
    // string-serialized pre-collect (see A4 note; struct path in PointMap
    // stays exercised by MapPipeline/PipelineSpec)
    Key("agg_collect_point_features", (s, d) =>
      preAgg(s, d)
        .select(Salt.pointKey(col("map_key"), SaltModulo).as("key"),
          concat_ws(",",
            round(col("lat") * 100).cast("int").cast("string"),
            round(col("lng") * 100).cast("int").cast("string"),
            col("bor_year").cast("string"), col("occ_count").cast("string")).as("f"))
        .groupBy("key")
        .agg(array_join(sort_array(collect_list(col("f"))), ";").as("features_str"))
        .orderBy("key"),
      () => sqlOcc +
        s""", feats AS (
           |  SELECT map_key, round(lat*100)::INTEGER AS lat_c,
           |    round(lng*100)::INTEGER AS lng_c, bor_year, occ_count
           |  FROM pre)
           |SELECT ${Salt.sqlSalted("map_key", SaltModulo)} AS key,
           |  array_to_string(
           |    list_sort(list(lat_c::VARCHAR || ',' || lng_c::VARCHAR || ',' ||
           |                   bor_year::VARCHAR || ',' || occ_count::VARCHAR)),
           |    ';') AS features_str
           |FROM feats GROUP BY 1 ORDER BY 1""".stripMargin),

    // ---- J1/J2: threshold allow/deny as real semi/anti joins — the 100 TB
    // replacement for the reference's driver-side collect
    // (MapBuilder.java:199-202, MapKeysUDF.java:134-144).
    Key("semi_join_threshold", (s, d) => {
      val ex = exploded(s, d)
      val big = ex.groupBy("map_key").agg(count(lit(1)).as("c"))
        .filter(col("c") >= Threshold).select("map_key")
      ex.join(big, Seq("map_key"), "left_semi").orderBy("event_id", "map_key")
    },
      () => sqlOcc +
        s"""SELECT event_id, map_key FROM ex
           |WHERE map_key IN (SELECT map_key FROM ex GROUP BY 1 HAVING count(*) >= $Threshold)
           |ORDER BY 1, 2""".stripMargin),

    Key("anti_join_threshold", (s, d) => {
      val ex = exploded(s, d)
      val big = ex.groupBy("map_key").agg(count(lit(1)).as("c"))
        .filter(col("c") >= Threshold).select("map_key")
      ex.join(big, Seq("map_key"), "left_anti").orderBy("event_id", "map_key")
    },
      () => sqlOcc +
        s"""SELECT event_id, map_key FROM ex
           |WHERE map_key NOT IN (SELECT map_key FROM ex GROUP BY 1 HAVING count(*) >= $Threshold)
           |ORDER BY 1, 2""".stripMargin),

    // ---- S7-analog: sorted salted sink — per-key content verified via the
    // oracle; the salt-aligned partition layout is tested in SinksSpec.
    Key("sorted_sink", (s, d) => {
      val pts = graft.points.PointMap.pointFeatures(
        preAgg(s, d)
          .select(col("map_key").as("mapKey"), col("lat"), col("lng"),
            col("bor_year").as("borYear"), col("occ_count").as("occCount")),
        SaltModulo)
      pts.select(col("key"), size(col("features")).as("n_features"))
        .orderBy("key")
    },
      () => sqlOcc +
        s"""SELECT ${Salt.sqlSalted("map_key", SaltModulo)} AS key,
           |  count(*)::INTEGER AS n_features
           |FROM pre GROUP BY 1 ORDER BY 1""".stripMargin),

    // Zone-map build + prune report: per pseudo-file (orderkey bucket),
    // row count and min/max ship-day, plus whether a date predicate could
    // SKIP the file entirely — the min/max-statistics file-skipping that
    // decides how much of 100 TB a scan touches (the same contract parquet
    // row-group stats / Iceberg manifests serve). One aggregate; the zone
    // map is bucket-count rows, never data-sized.
    Key("zonemap_prune", (s, d) =>
      lineitem(s, d)
        .select(expr(s"l_orderkey div $ZoneBucketOrders").as("bucket"),
          expr("unix_micros(l_shipdate) div 86400000000").as("day"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_rows"), min("day").as("min_day"),
          max("day").as("max_day"))
        .withColumn("skipped", col("max_day") < PruneCutoffDay)
        .orderBy("bucket"),
      () =>
        s"""SELECT (l_orderkey // $ZoneBucketOrders) AS bucket,
           |  count(*)::BIGINT AS n_rows,
           |  min(epoch_us(l_shipdate) // 86400000000)::BIGINT AS min_day,
           |  max(epoch_us(l_shipdate) // 86400000000)::BIGINT AS max_day,
           |  (max(epoch_us(l_shipdate) // 86400000000) < $PruneCutoffDay) AS skipped
           |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin),

    // Incremental pyramid refresh: the NEW event batch's pixel deltas
    // merged onto the existing pre-aggregation — only TOUCHED cells emitted
    // (the tiles a refresh re-renders), linear in the batch, never a
    // full-corpus re-aggregation. The left join direction is the point:
    // delta drives, the old table only answers point lookups.
    Key("pyramid_incremental", (s, d) => {
      // ONE explode+aggregate pass computes BOTH generations' counts as
      // conditional sums per cell (opt guide §2.4 remove shuffles
      // outright): the old shape ran two full scan+explode+agg passes
      // (old batch, delta batch) and a cell-keyed left join; the flag
      // partitions rows disjointly, so per-cell conditional counts equal
      // the separately-filtered counts and the join collapses into a
      // filter (delta cells only) + null-when-absent projection. 2 scans
      // + 3 exchanges -> 1 scan + 1 exchange; identical rows and values.
      occ(s, d)
        .select(explode(OA.mapKeysArray).as("map_key"),
          col("lat"), col("lng"),
          BorYear.encode(col("basisOfRecord"), col("year")).as("bor_year"),
          (pmod(col("event_id"), lit(10)) === 9).as("is_delta"))
        .groupBy("map_key", "lat", "lng", "bor_year")
        .agg(sum(when(!col("is_delta"), 1L).otherwise(0L)).as("o_cnt"),
          sum(when(col("is_delta"), 1L).otherwise(0L)).as("occ_delta"))
        .filter(col("occ_delta") > 0)
        .select(col("map_key"), col("lat"), col("lng"), col("bor_year"),
          coalesce(when(col("o_cnt") > 0, col("o_cnt")), lit(0L)).as("occ_old"),
          col("occ_delta"),
          (coalesce(when(col("o_cnt") > 0, col("o_cnt")), lit(0L)) +
            col("occ_delta")).as("occ_new"))
        .orderBy("map_key", "lat", "lng", "bor_year")
    },
      () => sqlOcc.stripSuffix("\n") +
        s""",
           |po AS (
           |  SELECT map_key, lat, lng, bor_year, count(*)::BIGINT AS occ_old
           |  FROM (SELECT ${BorYear.sqlEncode("event_type", "yr")} AS bor_year,
           |               lat, lng, unnest(mks) AS map_key FROM occ
           |        WHERE event_id % 10 != 9)
           |  GROUP BY 1, 2, 3, 4),
           |pd AS (
           |  SELECT map_key, lat, lng, bor_year, count(*)::BIGINT AS occ_delta
           |  FROM (SELECT ${BorYear.sqlEncode("event_type", "yr")} AS bor_year,
           |               lat, lng, unnest(mks) AS map_key FROM occ
           |        WHERE event_id % 10 = 9)
           |  GROUP BY 1, 2, 3, 4)
           |SELECT pd.map_key, pd.lat, pd.lng, pd.bor_year,
           |  coalesce(po.occ_old, 0)::BIGINT AS occ_old,
           |  pd.occ_delta,
           |  (coalesce(po.occ_old, 0) + pd.occ_delta)::BIGINT AS occ_new
           |FROM pd LEFT JOIN po USING (map_key, lat, lng, bor_year)
           |ORDER BY 1, 2, 3, 4""".stripMargin),

    // Z-order (Morton) layout key: bit-interleaved 16-bit grid coords over
    // the event coordinates, aggregated per 12-bit z prefix — the per-file
    // min/max stats a z-ordered write would give a data-skipping reader
    // (each prefix bucket's bounding box is tight on BOTH dims; see
    // graft.ops.ZOrder.layout for the write-side repartitionByRange shape).
    Key("zorder_layout", (s, d) => {
      import graft.ops.ZOrder
      val q = occ(s, d).select(
        ZOrder.quantize16(col("lng"), -180, 180).as("qx"),
        ZOrder.quantize16(col("lat"), -90, 90).as("qy"))
      q.select(col("qx"), col("qy"),
          ZOrder.interleave(col("qx"), col("qy")).as("z"))
        .groupBy(shiftright(col("z"), 20).as("z_prefix"))
        .agg(count(lit(1)).as("n"),
          min("qx").as("min_qx"), max("qx").as("max_qx"),
          min("qy").as("min_qy"), max("qy").as("max_qy"))
        .orderBy("z_prefix")
    },
      () => {
        import graft.ops.ZOrder
        val z = ZOrder.sqlInterleave("qx", "qy")
        sqlOcc +
          s"""SELECT ($z >> 20) AS z_prefix, count(*) AS n,
             |  min(qx) AS min_qx, max(qx) AS max_qx,
             |  min(qy) AS min_qy, max(qy) AS max_qy
             |FROM (SELECT ${ZOrder.sqlQuantize16("lng", -180, 180)} AS qx,
             |             ${ZOrder.sqlQuantize16("lat", -90, 90)} AS qy
             |      FROM occ)
             |GROUP BY 1 ORDER BY 1""".stripMargin
      }),

    // Hilbert-curve layout key: the locality-superior sibling of
    // zorder_layout (no diagonal jumps — contiguous index ranges make
    // tighter per-file bounding boxes for data skipping). Same 16-bit
    // quantized grid, same per-prefix min/max report; the 16 bit-descent
    // levels are STAGED projections (see graft.ops.Hilbert — inlining the
    // recursion grows the expression tree 6x per level), all fused by
    // whole-stage codegen into one narrow pass.
    Key("hilbert_layout", (s, d) => {
      import graft.ops.{Hilbert, ZOrder}
      val q = occ(s, d).select(
        ZOrder.quantize16(col("lng"), -180, 180).as("qx"),
        ZOrder.quantize16(col("lat"), -90, 90).as("qy"))
      Hilbert.withIndex(q, "qx", "qy", order = 16, out = "h")
        .groupBy(shiftright(col("h"), 20).as("h_prefix"))
        .agg(count(lit(1)).as("n"),
          min("qx").as("min_qx"), max("qx").as("max_qx"),
          min("qy").as("min_qy"), max("qy").as("max_qy"))
        .orderBy("h_prefix")
    },
      () => {
        import graft.ops.{Hilbert, ZOrder}
        sqlOcc +
          s""", q AS (SELECT ${ZOrder.sqlQuantize16("lng", -180, 180)} AS qx,
             |             ${ZOrder.sqlQuantize16("lat", -90, 90)} AS qy
             |      FROM occ)""".stripMargin +
          Hilbert.sqlIndexCtes("q", Seq("qx", "qy"), "qx", "qy", order = 16) +
          s"""
             |SELECT (hd >> 20) AS h_prefix, count(*) AS n,
             |  min(qx) AS min_qx, max(qx) AS max_qx,
             |  min(qy) AS min_qy, max(qy) AS max_qy
             |FROM h16 GROUP BY 1 ORDER BY 1""".stripMargin
      })
  )
}
