package graft.sources

import org.apache.parquet.filter2.predicate.{FilterApi, FilterPredicate, Operators}
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit
import org.apache.parquet.schema.MessageType
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.sources._

/** Spark `Filter` algebra → parquet `FilterPredicate` compiler.
  *
  * Same contract as the reference's Tablestore filter compiler
  * (`emr-tablestore/.../TableStoreFilter.scala:33-147`): supports
  * And/Or/Not/EqualTo/GT/GE/LT/LE/In/IsNull/IsNotNull/StartsWith, with the
  * reference's De-Morgan rewrite of `Not(And/Or)` into negation-normal
  * form (`TableStoreFilter.scala:46-87`) so `Not` only ever wraps leaves.
  * Filters that don't compile (unknown column, unsupported op, value type
  * mismatch) are reported as residuals for Spark to re-apply — the
  * `unhandledFilters` contract of `TableStoreRelation.scala:364-405`.
  */
object KvFilters {

  /** Negation-normal form: push Not through And/Or (De Morgan) and drop
    * double negation.
    */
  def toNNF(f: Filter): Filter = f match {
    case Not(And(l, r)) => Or(toNNF(Not(l)), toNNF(Not(r)))
    case Not(Or(l, r)) => And(toNNF(Not(l)), toNNF(Not(r)))
    case Not(Not(inner)) => toNNF(inner)
    case And(l, r) => And(toNNF(l), toNNF(r))
    case Or(l, r) => Or(toNNF(l), toNNF(r))
    case other => other
  }

  /** Compile one Spark filter. None ⇒ not expressible against this schema
    * (becomes a residual).
    */
  def compile(filter: Filter, schema: MessageType): Option[FilterPredicate] = {
    def prim(col: String) =
      if (schema.containsField(col) &&
          schema.getType(schema.getFieldIndex(col)).isPrimitive)
        Some(schema.getType(schema.getFieldIndex(col)).asPrimitiveType) else None

    /** Convert a Spark-side literal to the column's storage representation. */
    def storageValue(col: String, v: Any): Option[(PrimitiveTypeName, Any)] = prim(col).flatMap { pt =>
      val name = pt.getPrimitiveTypeName
      (name, v) match {
        case (PrimitiveTypeName.INT64, x: Long) => Some(name -> x)
        case (PrimitiveTypeName.INT64, x: Int) => Some(name -> x.toLong)
        // timestamp literals are handled by the exact per-operator bound
        // path (pushTs) — never through direct unit conversion, which
        // truncates on MILLIS/NANOS storage and would drop rows the
        // residual re-apply cannot resurrect
        case (PrimitiveTypeName.INT32, x: Int) => Some(name -> x)
        case (PrimitiveTypeName.INT32, x: Long)
          if x >= Int.MinValue && x <= Int.MaxValue => Some(name -> x.toInt)
        case (PrimitiveTypeName.DOUBLE, x: Int) => Some(name -> x.toDouble)
        case (PrimitiveTypeName.DOUBLE, x: Long) => Some(name -> x.toDouble)
        case (PrimitiveTypeName.INT32, x: java.sql.Date) =>
          Some(name -> x.toLocalDate.toEpochDay.toInt)
        case (PrimitiveTypeName.DOUBLE, x: Double) => Some(name -> x)
        case (PrimitiveTypeName.FLOAT, x: Float) => Some(name -> x)
        case (PrimitiveTypeName.BOOLEAN, x: Boolean) => Some(name -> x)
        case (PrimitiveTypeName.BINARY, x: String) => Some(name -> Binary.fromString(x))
        case _ => None
      }
    }

    def cmp(col: String, v: Any,
        mk: (PrimitiveTypeName, String, Any) => FilterPredicate): Option[FilterPredicate] =
      storageValue(col, v).map { case (t, sv) => mk(t, col, sv) }

    // ---- timestamp predicates: exact per-operator bound conversion ----
    //
    // Read side (ParquetIO.readFile): MILLIS → stored*1000 (exact
    // widening), MICROS → identity, NANOS → stored/1000 (truncation toward
    // zero). Spark evaluates the user predicate against that micros value,
    // so a pushed record-level predicate must accept EXACTLY the storage
    // values whose read image satisfies the predicate. We derive, per
    // literal t (micros):
    //   maxLe(t) = largest storage value s with read(s) <= t
    //   minGe(t) = smallest storage value s with read(s) >= t
    // and express each comparison through those bounds. Overflow (NANOS
    // beyond ±~year 2262) ⇒ None ⇒ the filter stays residual-only.

    def tsUnit(col: String): Option[TimeUnit] = prim(col).flatMap { pt =>
      if (pt.getPrimitiveTypeName != PrimitiveTypeName.INT64) None
      else pt.getLogicalTypeAnnotation match {
        case ts: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation => Some(ts.getUnit)
        case _ => None
      }
    }

    def literalMicros(v: Any): Option[Long] = v match {
      case x: java.sql.Timestamp =>
        Some(x.getTime * 1000L + (x.getNanos / 1000L) % 1000L)
      case x: java.time.Instant =>
        Some(Math.addExact(Math.multiplyExact(x.getEpochSecond, 1000000L), x.getNano / 1000L))
      case x: java.time.LocalDateTime =>
        // TIMESTAMP_NTZ literal: interpret in UTC (storage is wall-clock)
        Some(x.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + x.getNano / 1000L)
      case _ => None
    }

    def maxLe(unit: TimeUnit, t: Long): Long = unit match {
      case TimeUnit.MICROS => t
      case TimeUnit.MILLIS => Math.floorDiv(t, 1000L)
      case TimeUnit.NANOS =>
        // read(n) = n/1000 truncated toward zero
        if (t >= 0L) Math.addExact(Math.multiplyExact(t, 1000L), 999L)
        else Math.multiplyExact(t, 1000L)
    }

    def minGe(unit: TimeUnit, t: Long): Long = unit match {
      case TimeUnit.MICROS => t
      case TimeUnit.MILLIS => Math.negateExact(Math.floorDiv(Math.negateExact(t), 1000L)) // ceilDiv
      case TimeUnit.NANOS =>
        if (t > 0L) Math.multiplyExact(t, 1000L)
        else Math.subtractExact(Math.multiplyExact(t, 1000L), 999L)
    }

    def pushTs(op: String, c: String, v: Any): Option[FilterPredicate] =
      try {
        for {
          unit <- tsUnit(c)
          t <- literalMicros(v)
          lc = FilterApi.longColumn(c)
          pred <- op match {
            case "gt" => Some(FilterApi.gt(lc, maxLe(unit, t): java.lang.Long))
            case "gtEq" => Some(FilterApi.gtEq(lc, minGe(unit, t): java.lang.Long))
            case "lt" => Some(FilterApi.lt(lc, minGe(unit, t): java.lang.Long))
            case "ltEq" => Some(FilterApi.ltEq(lc, maxLe(unit, t): java.lang.Long))
            case "eq" =>
              val lo = minGe(unit, t); val hi = maxLe(unit, t)
              if (lo > hi) None // no storage value reads equal to t
              else if (lo == hi) Some(FilterApi.eq(lc, lo: java.lang.Long))
              else Some(FilterApi.and(
                FilterApi.gtEq(lc, lo: java.lang.Long), FilterApi.ltEq(lc, hi: java.lang.Long)))
            case "notEq" =>
              val lo = minGe(unit, t); val hi = maxLe(unit, t)
              if (lo > hi) None // predicate ≡ IsNotNull; leave residual
              else if (lo == hi) Some(FilterApi.notEq(lc, lo: java.lang.Long))
              else Some(FilterApi.or(
                FilterApi.lt(lc, lo: java.lang.Long), FilterApi.gt(lc, hi: java.lang.Long)))
            case _ => None
          }
        } yield pred
      } catch { case _: ArithmeticException => None }

    def eq(t: PrimitiveTypeName, c: String, v: Any): FilterPredicate = t match {
      case PrimitiveTypeName.INT64 => FilterApi.eq(FilterApi.longColumn(c), v.asInstanceOf[Long]: java.lang.Long)
      case PrimitiveTypeName.INT32 => FilterApi.eq(FilterApi.intColumn(c), v.asInstanceOf[Int]: java.lang.Integer)
      case PrimitiveTypeName.DOUBLE => FilterApi.eq(FilterApi.doubleColumn(c), v.asInstanceOf[Double]: java.lang.Double)
      case PrimitiveTypeName.FLOAT => FilterApi.eq(FilterApi.floatColumn(c), v.asInstanceOf[Float]: java.lang.Float)
      case PrimitiveTypeName.BOOLEAN => FilterApi.eq(FilterApi.booleanColumn(c), v.asInstanceOf[Boolean]: java.lang.Boolean)
      case PrimitiveTypeName.BINARY => FilterApi.eq(FilterApi.binaryColumn(c), v.asInstanceOf[Binary])
      case other => throw new IllegalStateException(other.toString)
    }
    def notEq(t: PrimitiveTypeName, c: String, v: Any): FilterPredicate = t match {
      case PrimitiveTypeName.INT64 => FilterApi.notEq(FilterApi.longColumn(c), v.asInstanceOf[Long]: java.lang.Long)
      case PrimitiveTypeName.INT32 => FilterApi.notEq(FilterApi.intColumn(c), v.asInstanceOf[Int]: java.lang.Integer)
      case PrimitiveTypeName.DOUBLE => FilterApi.notEq(FilterApi.doubleColumn(c), v.asInstanceOf[Double]: java.lang.Double)
      case PrimitiveTypeName.FLOAT => FilterApi.notEq(FilterApi.floatColumn(c), v.asInstanceOf[Float]: java.lang.Float)
      case PrimitiveTypeName.BOOLEAN => FilterApi.notEq(FilterApi.booleanColumn(c), v.asInstanceOf[Boolean]: java.lang.Boolean)
      case PrimitiveTypeName.BINARY => FilterApi.notEq(FilterApi.binaryColumn(c), v.asInstanceOf[Binary])
      case other => throw new IllegalStateException(other.toString)
    }
    def gt(t: PrimitiveTypeName, c: String, v: Any): FilterPredicate = t match {
      case PrimitiveTypeName.INT64 => FilterApi.gt(FilterApi.longColumn(c), v.asInstanceOf[Long]: java.lang.Long)
      case PrimitiveTypeName.INT32 => FilterApi.gt(FilterApi.intColumn(c), v.asInstanceOf[Int]: java.lang.Integer)
      case PrimitiveTypeName.DOUBLE => FilterApi.gt(FilterApi.doubleColumn(c), v.asInstanceOf[Double]: java.lang.Double)
      case PrimitiveTypeName.FLOAT => FilterApi.gt(FilterApi.floatColumn(c), v.asInstanceOf[Float]: java.lang.Float)
      case PrimitiveTypeName.BINARY => FilterApi.gt(FilterApi.binaryColumn(c), v.asInstanceOf[Binary])
      case other => throw new IllegalStateException(other.toString)
    }
    def gtEq(t: PrimitiveTypeName, c: String, v: Any): FilterPredicate = t match {
      case PrimitiveTypeName.INT64 => FilterApi.gtEq(FilterApi.longColumn(c), v.asInstanceOf[Long]: java.lang.Long)
      case PrimitiveTypeName.INT32 => FilterApi.gtEq(FilterApi.intColumn(c), v.asInstanceOf[Int]: java.lang.Integer)
      case PrimitiveTypeName.DOUBLE => FilterApi.gtEq(FilterApi.doubleColumn(c), v.asInstanceOf[Double]: java.lang.Double)
      case PrimitiveTypeName.FLOAT => FilterApi.gtEq(FilterApi.floatColumn(c), v.asInstanceOf[Float]: java.lang.Float)
      case PrimitiveTypeName.BINARY => FilterApi.gtEq(FilterApi.binaryColumn(c), v.asInstanceOf[Binary])
      case other => throw new IllegalStateException(other.toString)
    }
    def lt(t: PrimitiveTypeName, c: String, v: Any): FilterPredicate = t match {
      case PrimitiveTypeName.INT64 => FilterApi.lt(FilterApi.longColumn(c), v.asInstanceOf[Long]: java.lang.Long)
      case PrimitiveTypeName.INT32 => FilterApi.lt(FilterApi.intColumn(c), v.asInstanceOf[Int]: java.lang.Integer)
      case PrimitiveTypeName.DOUBLE => FilterApi.lt(FilterApi.doubleColumn(c), v.asInstanceOf[Double]: java.lang.Double)
      case PrimitiveTypeName.FLOAT => FilterApi.lt(FilterApi.floatColumn(c), v.asInstanceOf[Float]: java.lang.Float)
      case PrimitiveTypeName.BINARY => FilterApi.lt(FilterApi.binaryColumn(c), v.asInstanceOf[Binary])
      case other => throw new IllegalStateException(other.toString)
    }
    def ltEq(t: PrimitiveTypeName, c: String, v: Any): FilterPredicate = t match {
      case PrimitiveTypeName.INT64 => FilterApi.ltEq(FilterApi.longColumn(c), v.asInstanceOf[Long]: java.lang.Long)
      case PrimitiveTypeName.INT32 => FilterApi.ltEq(FilterApi.intColumn(c), v.asInstanceOf[Int]: java.lang.Integer)
      case PrimitiveTypeName.DOUBLE => FilterApi.ltEq(FilterApi.doubleColumn(c), v.asInstanceOf[Double]: java.lang.Double)
      case PrimitiveTypeName.FLOAT => FilterApi.ltEq(FilterApi.floatColumn(c), v.asInstanceOf[Float]: java.lang.Float)
      case PrimitiveTypeName.BINARY => FilterApi.ltEq(FilterApi.binaryColumn(c), v.asInstanceOf[Binary])
      case other => throw new IllegalStateException(other.toString)
    }

    // IS [NOT] NULL: parquet eq/notEq with a null literal have exactly
    // these semantics at record level
    def nullCmp(c: String, wantNull: Boolean): Option[FilterPredicate] = prim(c).map { pt =>
      pt.getPrimitiveTypeName match {
        case PrimitiveTypeName.INT64 =>
          if (wantNull) FilterApi.eq(FilterApi.longColumn(c), null.asInstanceOf[java.lang.Long])
          else FilterApi.notEq(FilterApi.longColumn(c), null.asInstanceOf[java.lang.Long])
        case PrimitiveTypeName.INT32 =>
          if (wantNull) FilterApi.eq(FilterApi.intColumn(c), null.asInstanceOf[java.lang.Integer])
          else FilterApi.notEq(FilterApi.intColumn(c), null.asInstanceOf[java.lang.Integer])
        case PrimitiveTypeName.DOUBLE =>
          if (wantNull) FilterApi.eq(FilterApi.doubleColumn(c), null.asInstanceOf[java.lang.Double])
          else FilterApi.notEq(FilterApi.doubleColumn(c), null.asInstanceOf[java.lang.Double])
        case PrimitiveTypeName.FLOAT =>
          if (wantNull) FilterApi.eq(FilterApi.floatColumn(c), null.asInstanceOf[java.lang.Float])
          else FilterApi.notEq(FilterApi.floatColumn(c), null.asInstanceOf[java.lang.Float])
        case PrimitiveTypeName.BOOLEAN =>
          if (wantNull) FilterApi.eq(FilterApi.booleanColumn(c), null.asInstanceOf[java.lang.Boolean])
          else FilterApi.notEq(FilterApi.booleanColumn(c), null.asInstanceOf[java.lang.Boolean])
        case PrimitiveTypeName.BINARY =>
          if (wantNull) FilterApi.eq(FilterApi.binaryColumn(c), null.asInstanceOf[Binary])
          else FilterApi.notEq(FilterApi.binaryColumn(c), null.asInstanceOf[Binary])
        case other => throw new IllegalStateException(other.toString)
      }
    }

    toNNF(filter) match {
      case And(l, r) =>
        for (cl <- compile(l, schema); cr <- compile(r, schema)) yield FilterApi.and(cl, cr)
      case Or(l, r) =>
        for (cl <- compile(l, schema); cr <- compile(r, schema)) yield FilterApi.or(cl, cr)
      case EqualTo(c, v) => pushTs("eq", c, v).orElse(cmp(c, v, eq))
      case Not(EqualTo(c, v)) => pushTs("notEq", c, v).orElse(cmp(c, v, notEq))
      case GreaterThan(c, v) => pushTs("gt", c, v).orElse(cmp(c, v, gt))
      case GreaterThanOrEqual(c, v) => pushTs("gtEq", c, v).orElse(cmp(c, v, gtEq))
      case LessThan(c, v) => pushTs("lt", c, v).orElse(cmp(c, v, lt))
      case LessThanOrEqual(c, v) => pushTs("ltEq", c, v).orElse(cmp(c, v, ltEq))
      // negated comparisons surface as NNF leaves; the complement is
      // null-equivalent (both sides reject nulls)
      case Not(GreaterThan(c, v)) => pushTs("ltEq", c, v).orElse(cmp(c, v, ltEq))
      case Not(GreaterThanOrEqual(c, v)) => pushTs("lt", c, v).orElse(cmp(c, v, lt))
      case Not(LessThan(c, v)) => pushTs("gtEq", c, v).orElse(cmp(c, v, gtEq))
      case Not(LessThanOrEqual(c, v)) => pushTs("gt", c, v).orElse(cmp(c, v, gt))
      case In(c, vs) if vs.nonEmpty && vs.length <= 32 =>
        val compiled = vs.toSeq.map(v => pushTs("eq", c, v).orElse(cmp(c, v, eq)))
        if (compiled.forall(_.isDefined)) Some(compiled.flatten.reduce(FilterApi.or))
        else None
      case IsNull(c) => nullCmp(c, wantNull = true)
      case IsNotNull(c) => nullCmp(c, wantNull = false)
      case Not(IsNull(c)) => nullCmp(c, wantNull = false)
      case Not(IsNotNull(c)) => nullCmp(c, wantNull = true)
      case _ => None // StartsWith/etc → residual
    }
  }

  /** Compile a conjunction of pushed filters; (predicate, accepted). */
  def compileAll(filters: Seq[Filter], schema: MessageType): (Option[FilterPredicate], Seq[Filter]) = {
    val compiled = filters.map(f => f -> compile(f, schema)).collect {
      case (f, Some(p)) => f -> p
    }
    (compiled.map(_._2).reduceOption(FilterApi.and), compiled.map(_._1))
  }
}
