package graft.core

/** OLAP schema model (Mondrian-style over a physical star/snowflake).
  *
  * Mirrors the reference's logical model (tesseract-core/src/schema.rs:40-726)
  * but binds to Spark DataFrames instead of external SQL tables. The schema is
  * declared, never inferred.
  */

sealed trait DimensionType
object DimensionType {
  case object Standard extends DimensionType
  case object Time     extends DimensionType
  case object Geo      extends DimensionType
  def parse(s: String): DimensionType = s.toLowerCase match {
    case "time" => Time
    case "geo"  => Geo
    case _      => Standard
  }
}

/** Member key typing controls typed-literal comparison for cuts
  * (reference quotes/doesn't-quote SQL; we use typed `lit`s instead —
  * tesseract-core/src/query_ir.rs:237-243). */
sealed trait MemberType
object MemberType {
  case object Text    extends MemberType
  case object NonText extends MemberType
  def parse(s: String): MemberType =
    if (s.equalsIgnoreCase("nontext")) NonText else Text
}

/** Measure aggregation functions (tesseract-core/src/schema/aggregator.rs:11-97).
  *
  * Spark computes every aggregator single-pass (the mathematically exact form;
  * see SURVEY.md §2.2 fidelity note — the reference's own standard_sql backend
  * is single-pass too).
  */
sealed trait Aggregator
object Aggregator {
  case object Sum   extends Aggregator
  case object Count extends Aggregator
  case object Avg   extends Aggregator
  case object Max   extends Aggregator
  case object Min   extends Aggregator
  /** Median of group sub-aggregates: pass 1 applies `groupAggregator` with
    * `groupDimension` as a hidden extra drilldown, pass 2 takes the median. */
  final case class BasicGroupedMedian(groupAggregator: String, groupDimension: String) extends Aggregator
  final case class WeightedSum(weightColumn: String) extends Aggregator
  final case class WeightedAvg(weightColumn: String) extends Aggregator
  /** `cv * sqrt(sum(pow(col/cv, 2)))` */
  final case class Moe(criticalValue: Double) extends Aggregator
  /** `cv * sqrt(df/n * Σ_i pow(sum(col) - sum(sec_i), 2))` */
  final case class ReplicateWeightMoe(
      criticalValue: Double, designFactor: Double, secondaryColumns: Seq[String]) extends Aggregator
  /** `cv * sqrt(df/n * Σ_i pow(wavg(col,pw) - wavg(col,sw_i), 2))` */
  final case class WeightedAverageMoe(
      criticalValue: Double, designFactor: Double,
      primaryWeight: String, secondaryWeightColumns: Seq[String]) extends Aggregator
  /** Expression template with `{}` as the measure column placeholder.
    * Parsed, never string-spliced; guarded by an identifier allow-list. */
  final case class Custom(template: String) extends Aggregator
  /** Approximate COUNT(DISTINCT column) via a mergeable KMV sketch
    * (graft.functions.KmvSketch) — beyond-parity: the reference has no
    * distinct aggregator at all because its generated SQL would make
    * COUNT(DISTINCT) non-pre-aggregable; the sketch form re-aggregates
    * across summary rows. Deterministic (md5-hash order), so oracle-
    * checkable byte-exact. */
  final case class ApproxDistinct(k: Int = 64) extends Aggregator
  /** Internal (summary materialization): store the raw sketch array for an
    * ApproxDistinct measure instead of its estimate. */
  final case class KmvSketchBuild(k: Int) extends Aggregator
  /** Internal (summary-as-a-cube): merge stored sketches, then estimate —
    * the re-aggregation form of ApproxDistinct. */
  final case class KmvSketchMerge(k: Int) extends Aggregator
}

final case class Annotation(name: String, text: String)

final case class PropertyDef(
    name: String,
    column: String,
    captionSet: Option[String] = None,
    annotations: Seq[Annotation] = Nil)

/** Declares that a level's key column is derived from another fact column
  * by a monotonic unit extraction (currently `year`). Cuts on the level
  * then ALSO emit a redundant range predicate on the source column — the
  * predicate parquet/iceberg can push into the scan for row-group/partition
  * pruning, which the derived expression (`year(col) IN ...`) never is.
  * On a 100 TB date-partitioned fact this is the difference between
  * scanning two years and scanning the table. */
final case class DerivedFrom(column: String, unit: String) {
  require(unit == "year", s"unsupported derivation unit '$unit'")
}

final case class Level(
    name: String,
    keyColumn: String,
    nameColumn: Option[String] = None,
    properties: Seq[PropertyDef] = Nil,
    keyType: MemberType = MemberType.Text,
    annotations: Seq[Annotation] = Nil,
    derivedFrom: Option[DerivedFrom] = None)

/** Physical backing table; resolved to a DataFrame by the engine's
  * TableResolver (parquet path, registered view, or inline rows). */
final case class TableDef(
    name: String,
    schema: Option[String] = None,
    primaryKey: Option[String] = None)

/** Literal rows declared in the schema file (reference compiles to
  * `select … union all …`; we build a LocalRelation). */
final case class InlineTable(
    alias: String,
    columns: Seq[InlineColumn],
    rows: Seq[Seq[String]])
final case class InlineColumn(name: String, columnType: MemberType, castType: Option[String] = None, captionSet: Option[String] = None)

final case class Hierarchy(
    name: String,
    table: Option[TableDef] = None,
    inlineTable: Option[InlineTable] = None,
    primaryKey: String,
    levels: Seq[Level],
    defaultMember: Option[String] = None,
    annotations: Seq[Annotation] = Nil)

final case class Dimension(
    name: String,
    foreignKey: Option[String],
    hierarchies: Seq[Hierarchy],
    defaultHierarchy: Option[String] = None,
    dimType: DimensionType = DimensionType.Standard,
    isShared: Boolean = false,
    annotations: Seq[Annotation] = Nil)

sealed trait MeasureType
object MeasureType {
  final case class Standard(units: Option[String]) extends MeasureType
  final case class Error(forMeasure: String, errType: String) extends MeasureType
}

final case class Measure(
    name: String,
    column: String,
    aggregator: Aggregator,
    measureType: MeasureType = MeasureType.Standard(None),
    annotations: Seq[Annotation] = Nil)

final case class Cube(
    name: String,
    table: TableDef,
    dimensions: Seq[Dimension],
    measures: Seq[Measure],
    public: Boolean = true,
    minAuthLevel: Int = 0,
    annotations: Seq[Annotation] = Nil) {

  def dimension(name: String): Option[Dimension] = dimensions.find(_.name == name)
  def measure(name: String): Option[Measure]     = measures.find(_.name == name)

  def findLevel(ln: LevelName): Option[(Dimension, Hierarchy, Int)] =
    for {
      dim  <- dimension(ln.dimension)
      hier <- dim.hierarchies.find(_.name == ln.hierarchy)
      idx  <- Some(hier.levels.indexWhere(_.name == ln.level)).filter(_ >= 0)
    } yield (dim, hier, idx)
}

final case class Schema(
    name: String,
    cubes: Seq[Cube],
    annotations: Seq[Annotation] = Nil,
    defaultLocale: Option[String] = None) {
  def cube(name: String): Option[Cube] = cubes.find(_.name == name)
}
