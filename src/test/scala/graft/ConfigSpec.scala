package graft

import java.nio.file.Files

import graft.analog.{OccurrenceAnalog => OA}

/** ConfigLoader: parse a reference-shaped YAML (same keys as the
  * reference's example.yml / MapConfiguration.java:28-67) into a
  * MapPipeline.Config, and drive a pipeline run from it.
  */
class ConfigSpec extends SparkSpec {

  private val yaml =
    """# application name only
      |appName: Map build (test)
      |
      |snapshotDirectory: hdfs://example/data/view/
      |sourceSubdirectory: occurrence/
      |targetDirectory: hdfs://example/tmp/out
      |
      |# the database for temporary input tables
      |hiveDB: mapdb
      |
      |tilesThreshold: 100000
      |tileSize: 512
      |
      |# 1/8th of tile size is sensible
      |tileBufferSize: 64
      |maxZoom: 16
      |
      |hbase:
      |  zkQuorum: zk1.example.org,zk2.example.org
      |  rootDir: /hbase
      |  keySaltModulus: 10
      |  tableName: maps_test
      |""".stripMargin

  test("parseYaml: flat keys, nested sections, comments and blanks") {
    val kv = ConfigLoader.parseYaml(yaml)
    assert(kv("appName") == "Map build (test)")
    assert(kv("tilesThreshold") == "100000")
    assert(kv("hbase.keySaltModulus") == "10")
    assert(kv("hbase.zkQuorum") == "zk1.example.org,zk2.example.org")
    assert(!kv.contains("hbase"), "section headers are not values")
  }

  test("parseYaml: trailing comments stripped, bare # inside values kept") {
    val kv = ConfigLoader.parseYaml(
      """tileSize: 512  # 1/8th buffer below
        |targetDirectory: hdfs://x/out # prod path
        |fragmenty: hdfs://x/out#frag
        |""".stripMargin)
    assert(kv("tileSize") == "512", "numeric value survives a trailing comment")
    assert(kv("targetDirectory") == "hdfs://x/out")
    assert(kv("fragmenty") == "hdfs://x/out#frag", "YAML: '#' without leading space is content")
    assert(ConfigLoader.toPipelineConfig(kv).tileSize == 512,
      "toInt no longer throws on commented values")
  }

  test("toPipelineConfig: reference keys map onto the engine config") {
    val cfg = ConfigLoader.toPipelineConfig(ConfigLoader.parseYaml(yaml))
    assert(cfg.workDir == "hdfs://example/tmp/out")
    assert(cfg.threshold == 100000L)
    assert(cfg.tileSize == 512)
    assert(cfg.bufferSize == 64)
    assert(cfg.maxZoom == 16)
    assert(cfg.saltModulo == 10)
    assert(cfg.barrier.contains(MapPipeline.CatalogBarrier("mapdb")),
      "hiveDB selects the catalog CTAS barrier")
  }

  test("a config file drives a real pipeline run (workDir/maxZoom overridden)") {
    val work = Files.createTempDirectory("graft_cfg_run").toString
    val ymlPath = s"$work/pipeline.yml"
    // fixture-sized threshold so both tile and point paths activate
    Files.writeString(java.nio.file.Paths.get(ymlPath),
      yaml.replace("tilesThreshold: 100000", "tilesThreshold: 500"))
    val cfg = ConfigLoader.toPipelineConfig(ConfigLoader.load(ymlPath), Some(work))
      .copy(maxZoom = 0, projections = Seq("EPSG:3857"))
    val occ = OA.occurrences(Tables.events(spark, "/root/testdata/sf0.001"))
    val res = MapPipeline.run(spark, occ, OA.mapKeysArray, cfg)
    assert(res.tileDirs.size == 1)
    assert(spark.read.parquet(res.tileDirs.head).count() > 0)
    val tables = spark.sql("SHOW TABLES IN mapdb").collect()
      .map(_.getAs[String]("tableName")).toSet
    assert(Set("prepared", "tile_input").subsetOf(tables),
      s"config-selected hiveDB received the CTAS checkpoints: $tables")
    spark.sql("DROP DATABASE mapdb CASCADE")
  }
}
