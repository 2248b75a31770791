package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Column-level cleaning/validation operators (SURVEY §2.2, F1–F13, W1).
  *
  * Faithful re-expressions of the reference's row-at-a-time Python
  * cleaners (`etl/transform/cleaners.py`) as pure Catalyst `Column`
  * expressions — fully codegen'd, no UDFs, so they vectorize inside
  * WholeStageCodegen and scale linearly with input splits.
  *
  * Rounding convention (two deliberate regimes — keep them straight):
  * measurement cleaners (F6–F11) use `bround` (HALF_EVEN), because
  * Python's `round` — what every reference cleaner calls — is
  * banker's rounding, and Spark's default HALF_UP `round` would
  * diverge on values landing exactly on a .5 boundary of the target
  * scale; COORDINATES round through [[normalizeCoord]], which uses
  * HALF_UP `round` because the DuckDB oracle's `round()` is HALF_UP —
  * every coordinate query is hash-matched against that oracle, so the
  * oracle's mode wins for coordinates. The modes DO differ on real
  * doubles: Spark rounds the SHORTEST decimal rendering of the double
  * (`BigDecimal.decimal`), so a latitude printed as 47.0000005 is an
  * exact .5 tie at 6 dp where HALF_UP gives 47.000001 and HALF_EVEN
  * gives 47.0. [[normalizeCoord]] exists so the coordinate-mode
  * decision lives in exactly one place.
  */
object CleanFunctions {

  /** F1 — coordinate range predicate (`etl/utils/validators.py:7-12`). */
  def validCoords(lat: Column, lon: Column): Column =
    lat.isNotNull && lon.isNotNull &&
      lat.between(-90, 90) && lon.between(-180, 180)

  /** F2 — coordinate precision normalize (round 6 dp,
    * `etl/utils/validators.py:14-17`). THE home of the coordinate
    * rounding mode — every cleaner/pipeline coordinate site routes
    * here (see the module doc for the round-vs-bround rationale). */
  def normalizeCoord(c: Column): Column = round(c, 6)

  /** Generic clamp (`cleaners.py:526-530`): null stays null. */
  def clamp(c: Column, lo: Double, hi: Double): Column =
    least(greatest(c, lit(lo)), lit(hi))

  /** F6 — numeric sanitize (`cleaners.py:415-426`): NaN/Inf → null,
    * round 3. */
  def cleanNumeric(c: Column): Column = {
    val d = c.cast("double")
    bround(when(isnan(d) || d === Double.PositiveInfinity ||
      d === Double.NegativeInfinity, lit(null)).otherwise(d), 3)
  }

  /** F7 — percentage scale fix (`cleaners.py:375-386`):
    * [0,1]→×100, [0,100] keep, else null. */
  def cleanPercentage(c: Column): Column =
    when(c.isNull, lit(null))
      .when(c.between(0, 1), bround(c * 100, 2))
      .when(c.between(0, 100), bround(c, 2))
      .otherwise(lit(null))

  /** F8 — pH scale fix (`cleaners.py:388-399`):
    * [0,14] keep, (14,140] → /10 (SoilGrids stores pH×10), else null. */
  def cleanPh(c: Column): Column =
    when(c.isNull, lit(null))
      .when(c.between(0, 14), bround(c, 2))
      .when(c.between(0, 140), bround(c / 10, 2))
      .otherwise(lit(null))

  /** F9 — temperature clean (`cleaners.py:401-413`):
    * >60 ⇒ assume °F and convert; then gate to [-50,60]; round 1. */
  def cleanTemperature(c: Column): Column = {
    val conv = when(c > 60, (c - 32) * 5.0 / 9.0).otherwise(c)
    when(c.isNull, lit(null))
      .when(conv.between(-50, 60), bround(conv, 1))
      .otherwise(lit(null))
  }

  /** Unrounded variant of F9 for oracle-exact pipelines. */
  def cleanTemperatureRaw(c: Column): Column = {
    val conv = when(c > 60, (c - 32) * 5.0 / 9.0).otherwise(c)
    when(c.isNull, lit(null))
      .when(conv.between(-50, 60), conv)
      .otherwise(lit(null))
  }

  /** F11 — water-requirement unit normalize (`cleaners.py:428-443`):
    * [1,40] mm/day keep; [0.01,1) cm→×10; (40,350] weekly→/7; else null.
    */
  def normalizeWater(c: Column): Column =
    when(c.isNull, lit(null))
      .when(c.between(1.0, 40.0), bround(c, 2))
      .when(c >= 0.01 && c < 1.0, bround(c * 10, 2))
      .when(c > 40.0 && c <= 350.0, bround(c / 7, 2))
      .otherwise(lit(null))

  /** F4 — inverted min/max repair (`cleaners.py:279-283`): swap applies
    * only when both sides are non-null. */
  def repairedMax(tmax: Column, tmin: Column): Column =
    when(tmax.isNotNull && tmin.isNotNull, greatest(tmax, tmin))
      .otherwise(tmax)
  def repairedMin(tmax: Column, tmin: Column): Column =
    when(tmax.isNotNull && tmin.isNotNull, least(tmax, tmin))
      .otherwise(tmin)

  /** F10 — crop-name standardization (`cleaners.py:445-479`): lowercase →
    * synonym map → else Title Case. The 21-entry map folds to a literal
    * Catalyst CASE, so it broadcasts implicitly and stays codegen'd.
    */
  val cropNameMap: Map[String, String] = Map(
    "maize" -> "Maize", "corn" -> "Maize", "zea mays" -> "Maize",
    "wheat" -> "Wheat", "triticum" -> "Wheat", "bread wheat" -> "Wheat",
    "durum wheat" -> "Wheat",
    "rice" -> "Rice", "oryza sativa" -> "Rice", "paddy" -> "Rice",
    "soybean" -> "Soybean", "soy" -> "Soybean", "glycine max" -> "Soybean",
    "soya" -> "Soybean",
    "potato" -> "Potato", "solanum tuberosum" -> "Potato",
    "irish potato" -> "Potato",
    "tomato" -> "Tomato", "solanum lycopersicum" -> "Tomato",
    "barley" -> "Barley", "hordeum vulgare" -> "Barley",
    "cotton" -> "Cotton", "gossypium" -> "Cotton")

  def standardizeCropName(c: Column): Column = {
    val lowered = lower(trim(c))
    val mapped = cropNameMap.foldLeft(lit(null).cast("string")) {
      case (acc, (k, v)) => when(lowered === k, lit(v)).otherwise(acc)
    }
    // unmapped names get Python title() semantics (capitalize after ANY
    // non-letter), not initcap — 'winter-wheat' must become
    // 'Winter-Wheat' exactly as the reference's name.title()
    when(c.isNull || trim(c) === "", lit("Unknown"))
      .otherwise(coalesce(mapped, TextClean.pyTitle(lowered)))
  }

  /** F12 — USDA texture-triangle classifier, normalized-input variant
    * (`cleaners.py:481-511`). Python truthiness: any null OR zero input
    * → null.
    */
  def inferTexture(clay: Column, sand: Column, silt: Column): Column = {
    val total = clay + sand + silt
    val clayPct = clay / total * 100
    val sandPct = sand / total * 100
    val siltPct = silt / total * 100
    when(clay.isNull || sand.isNull || silt.isNull ||
      clay === 0 || sand === 0 || silt === 0 || total === 0, lit(null))
      .when(sandPct >= 85 && siltPct + clayPct * 1.5 < 15, "Sand")
      .when(siltPct >= 80 && clayPct < 12, "Silt")
      .when(clayPct >= 40, "Clay")
      .when(sandPct >= 52 && siltPct + clayPct * 2 < 50, "Sandy Loam")
      .when(siltPct >= 50 && clayPct < 27, "Silt Loam")
      .when(clayPct >= 27 && clayPct < 40 && sandPct > 20, "Clay Loam")
      .otherwise("Loam")
  }

  /** F12 raw-threshold variant used at parse time
    * (`etl/extract/soil_api.py:118-139`) — same cascade as the
    * normalized variant but applied to raw (unnormalized) values;
    * Python truthiness: null OR zero input → null. */
  def classifyTextureRaw(clay: Column, sand: Column, silt: Column): Column =
    when(clay.isNull || sand.isNull || silt.isNull ||
      clay === 0 || sand === 0 || silt === 0, lit(null))
      .when(sand >= 85 && silt + clay * 1.5 < 15, "Sand")
      .when(silt >= 80 && clay < 12, "Silt")
      .when(clay >= 40, "Clay")
      .when(sand >= 52 && silt + clay * 2 < 50, "Sandy Loam")
      .when(silt >= 50 && clay < 27, "Silt Loam")
      .when(clay >= 27 && clay < 40 && sand > 20, "Clay Loam")
      .otherwise("Loam")

  /** W1 — MD5 location hash over "%.6f,%.6f"
    * (`etl/transform/transformers.py:77-79`). */
  def locationHash(lat: Column, lon: Column): Column =
    md5(format_string("%.6f,%.6f", lat.cast("double"), lon.cast("double")))

  /** W3 — yyyymmdd surrogate date key
    * (`etl/transform/transformers.py:44`). */
  def dateKey(d: Column): Column =
    date_format(d, "yyyyMMdd").cast("int")
}
