package graft.prep

import org.apache.spark.sql.types._

/** Feature-type inference from the schema
  * (reference: preprocessor.py:196-219 `_infer_feature_types`).
  * Pure metadata — no data scan.
  */
object FeatureTypes {
  sealed trait FType { def name: String }
  case object Numerical   extends FType { val name = "numerical" }
  case object Categorical extends FType { val name = "categorical" }
  case object Datetime    extends FType { val name = "datetime" }
  case object Boolean_    extends FType { val name = "boolean" }
  case object Other       extends FType { val name = "other" }

  def of(dt: DataType): FType = dt match {
    case BooleanType                                       => Boolean_
    case DateType | _: TimestampType | TimestampNTZType    => Datetime
    case _: NumericType                                    => Numerical
    case StringType                                        => Categorical
    case _                                                 => Other
  }

  /** (column, ftype) for every non-excluded column, in schema order. */
  def infer(schema: StructType, excluded: Set[String] = Set.empty): Seq[(String, FType)] =
    schema.fields.toSeq.collect {
      case f if !excluded.contains(f.name) => f.name -> of(f.dataType)
    }
}
