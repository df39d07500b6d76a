package graft.catalog

import graft.SparkSpec
import graft.api.IngestError
import graft.core.{Tables, Types}
import org.apache.spark.sql.types._

class CatalogSpec extends SparkSpec {

  test("C1/C2/C3: list, exists, describe over registered tables") {
    Tables.registerAll(spark, sf)
    val names = Catalog.listTables(spark)
    assert(Tables.all.forall(names.contains))
    assert(Catalog.tableExists(spark, "lineitem"))
    assert(!Catalog.tableExists(spark, "nope"))
    intercept[IngestError.TableNotFound] { Catalog.describeTable(spark, "nope") }
    val cols = Catalog.describeTable(spark, "lineitem")
    assert(cols.map(_.name).take(3) == Seq("l_orderkey", "l_partkey", "l_suppkey"))
    assert(cols.find(_.name == "l_quantity").get.`type` == "Float64")
    assert(cols.find(_.name == "l_shipdate").get.`type` == "DateTime")
  }

  test("C4: health probe") {
    assert(Catalog.health(spark))
  }

  test("C4: health envelope carries status/timestamp/services (main.py:321-328)") {
    val env = Catalog.healthEnvelope(spark)
    assert(env.status == "healthy")
    assert(env.timestamp.nonEmpty)
    assert(env.services == Map("database" -> "available", "storage" -> "ok"))
  }

  test("listTempViews: sorted, excludes persistent tables") {
    Tables.registerAll(spark, sf)
    val t = "graft_catalog_persist_unit"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    val leftover = new java.io.File("spark-warehouse/" + t)
    if (leftover.exists()) {
      leftover.listFiles().foreach(_.delete()); leftover.delete()
    }
    import spark.implicits._
    try {
      Seq((1, "a")).toDF("id", "v").write.saveAsTable(t)
      val views = Catalog.listTempViews(spark)
      assert(views == views.sorted)
      assert(Tables.all.forall(views.contains))
      assert(!views.contains(t)) // persistent table excluded
    } finally spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("Engine.session applies AQE + UTC + shuffle sizing policy") {
    // getOrCreate reuses the suite's JVM-singleton session and applies the
    // sql confs to it — assert, then restore the suite's shuffle sizing so
    // later suites aren't affected
    val s = graft.core.Engine.session(master = Some("local[2]"), shufflePartitions = 2)
    try {
      assert(s.conf.get("spark.sql.adaptive.enabled") == "true")
      assert(s.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true")
      assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
      assert(s.conf.get("spark.sql.shuffle.partitions") == "2")
    } finally s.conf.set("spark.sql.shuffle.partitions", "4")
  }

  test("type mapping is the reference table both ways (main.py:250-256)") {
    assert(Types.toExternalName(LongType) == "Int64")
    assert(Types.toExternalName(DoubleType) == "Float64")
    assert(Types.toExternalName(BooleanType) == "UInt8")
    assert(Types.toExternalName(TimestampType) == "DateTime")
    assert(Types.toExternalName(StringType) == "String")
    assert(Types.fromExternalName("Int64") == LongType)
    assert(Types.fromExternalName("Float64") == DoubleType)
    assert(Types.fromExternalName("UInt8") == BooleanType)
    assert(Types.fromExternalName("DateTime") == TimestampType)
    assert(Types.fromExternalName("SomethingElse") == StringType)
  }

  test("listings, existence, describe and health launch no Spark job in any group") {
    Tables.registerAll(spark, sf)
    val calls = Seq[(String, () => Any)](
      "listTables" -> (() => Catalog.listTables(spark)),
      "listTempViews" -> (() => Catalog.listTempViews(spark)),
      "tableExists" -> (() => Catalog.tableExists(spark, "lineitem")),
      "describeTable" -> (() => Catalog.describeTable(spark, "lineitem")),
      "health" -> (() => Catalog.health(spark)),
      "healthEnvelope" -> (() => Catalog.healthEnvelope(spark)))
    val launched = calls.map { case (name, call) => name -> jobGroupsDuring(call()).size }
    assert(launched.forall(_._2 == 0), s"jobs launched per call: $launched")
  }

  test("catalog ops launch no Spark job (lightweight-metadata parity)") {
    Tables.registerAll(spark, sf)
    val before = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    Catalog.describeTable(spark, "lineitem")
    val after = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    assert(after == before)
  }
}
