package graft.pipeline

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** CLI mirroring the reference orchestrator's entry point
  * (`etl/orchestrator.py:214-238`, SURVEY §3.1):
  *
  *   runMain graft.pipeline.PipelineMain --mode soil|weather|crop|full
  *     [--fixtures DIR] [--out DIR]
  *
  * Each phase reads captured-source fixtures, runs the declarative
  * pipeline (parse → clean → key → merge), and writes the warehouse
  * tables as parquet under --out. Phases are independent jobs; "full"
  * runs soil → weather → crop like the reference's sequential
  * orchestration.
  */
object PipelineMain {

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val mode = opts.getOrElse("mode", "full")
    val fixtures = opts.getOrElse("fixtures", "src/test/resources/fixtures")
    val out = opts.getOrElse("out", "/tmp/graft_warehouse")

    val spark = graft.util.Session.build(
      master = sys.env.get("SPARK_MASTER"))

    def emptyDf(schema: StructType) = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    def load(name: String, schema: StructType) = {
      spark.catalog.refreshByPath(s"$out/$name")
      if (new java.io.File(s"$out/$name").exists)
        spark.read.parquet(s"$out/$name")
      else emptyDf(schema)
    }
    // stage-then-promote: every output of a phase lands in _new
    // BEFORE any current table is overwritten — the outputs' plans
    // read the current tables, so promoting early would invalidate
    // sibling plans mid-phase
    def stage(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      df.write.mode(SaveMode.Overwrite).parquet(s"$out/${name}_new")
      spark.catalog.refreshByPath(s"$out/${name}_new")
    }
    def promote(names: String*): Unit = names.foreach { name =>
      spark.read.parquet(s"$out/${name}_new").write
        .mode(SaveMode.Overwrite).parquet(s"$out/$name")
      spark.catalog.refreshByPath(s"$out/$name")
    }

    val dimSchema = StructType(Seq(
      StructField("location_hash", StringType),
      StructField("latitude", DoubleType),
      StructField("longitude", DoubleType),
      StructField("location_key", LongType),
      StructField("effective_date", StringType),
      StructField("is_current", BooleanType)))
    val today = lit(java.time.LocalDate.now.toString)

    if (mode == "soil" || mode == "full") {
      val soilSchema = StructType(Seq(
        StructField("location_key", LongType),
        StructField("soil_texture", StringType),
        StructField("clay_content_0_5cm", DoubleType),
        StructField("sand_content_0_5cm", DoubleType),
        StructField("silt_content_0_5cm", DoubleType),
        StructField("ph_level_0_5cm", DoubleType),
        StructField("organic_carbon_0_5cm", DoubleType),
        StructField("bulk_density_0_5cm", DoubleType),
        StructField("water_capacity_0_5cm", DoubleType),
        StructField("soil_depth_cm", IntegerType),
        StructField("extraction_date", StringType),
        StructField("metadata", StringType)))
      val (dim, soil, quarantine) = Pipeline.runSoil(spark,
        s"$fixtures/soilgrids.jsonl", load("dim_location", dimSchema),
        load("dim_soil", soilSchema), today)
      val nQuarantine = quarantine.count()
      stage("dim_location", dim.drop("is_new"))
      stage("dim_soil", soil)
      promote("dim_location", "dim_soil")
      println(s"[pipeline] soil: ${spark.read.parquet(s"$out/dim_soil").count()} rows, " +
        s"$nQuarantine quarantined")
    }

    if (mode == "weather" || mode == "full") {
      // the fact is the scaling table: it lands through the
      // partition-scoped incremental merge into a monthly-partitioned
      // lake table (only touched partitions rewritten), never a full
      // rewrite. Commit order: the batch is STAGED, then the dim is
      // promoted, then the staged batch merges — so every
      // location_key visible in the fact already exists in the dim
      // even if a crash lands between the steps (a crashed merge
      // re-runs idempotently).
      val factPath = s"$out/fact_weather"
      // one-time migration: a fact written by the pre-partitioned
      // layout (flat parquet, no part_year dirs) is rewritten
      // partitioned before the first incremental merge
      val factDir = new java.io.File(factPath)
      if (factDir.exists &&
          !factDir.listFiles().exists(_.getName.startsWith("part_year="))) {
        val flat = spark.read.parquet(factPath)
        Pipeline.withMonthParts(flat)
          .write.mode(SaveMode.Overwrite)
          .partitionBy("part_year", "part_month")
          .parquet(s"${factPath}_migrated")
        spark.read.parquet(s"${factPath}_migrated").write
          .mode(SaveMode.Overwrite)
          .partitionBy("part_year", "part_month").parquet(factPath)
        spark.catalog.refreshByPath(factPath)
        graft.util.Scratch.deleteTree(
          java.nio.file.Paths.get(s"${factPath}_migrated"))
        println("[pipeline] weather: migrated flat fact to monthly partitions")
      }
      val (dim, fact) = Pipeline.weatherBatch(spark,
        s"$fixtures/openmeteo.jsonl", load("dim_location", dimSchema),
        today)
      stage("dim_location", dim.drop("is_new"))
      stage("fact_batch", Pipeline.withMonthParts(fact))
      promote("dim_location")
      Pipeline.weatherMerge(spark, factPath,
        spark.read.parquet(s"$out/fact_batch_new"))
      spark.catalog.refreshByPath(factPath)
      val nFact = if (new java.io.File(factPath).exists)
        spark.read.parquet(factPath).count() else 0L
      println(s"[pipeline] weather: $nFact fact rows")
    }

    if (mode == "crop" || mode == "full") {
      import spark.implicits._
      val cropSchema = StructType(Seq(
        StructField("crop_name", StringType),
        StructField("optimal_temp_min_c", DoubleType),
        StructField("optimal_temp_max_c", DoubleType),
        StructField("water_requirement_mm_day", DoubleType),
        StructField("sunlight_hours_min", DoubleType),
        StructField("sunlight_hours_max", DoubleType),
        StructField("soil_ph_preference_min", DoubleType),
        StructField("soil_ph_preference_max", DoubleType),
        StructField("extraction_confidence", DoubleType),
        StructField("extraction_date", StringType),
        StructField("source_urls", ArrayType(StringType))))
      // captured FAO-style page for the canonical wheat fixture
      val scraped = Seq(("wheat", "fao", 0.9,
        "<div>Wheat requires optimal temperatures between 20°C and " +
          "25°C. The crop needs about 6 mm of water per day. Prefers " +
          "full sun exposure of 9 hours of sunlight. Soil pH 6.0 to " +
          "7.0 preferred.</div>"))
        .toDF("crop_name", "source", "reliability", "html")
      val crop = Pipeline.runCrop(scraped,
        load("dim_crop", cropSchema), today)
      stage("dim_crop", crop)
      promote("dim_crop")
      println(s"[pipeline] crop: ${spark.read.parquet(s"$out/dim_crop").count()} dim rows")
    }

    spark.stop()
  }
}
