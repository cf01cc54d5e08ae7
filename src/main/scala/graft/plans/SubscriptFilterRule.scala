package graft.plans

import graft.functions.MapEntryHashesImpl
import graft.sources.{GraftScan, GraftScanBuilder, GraftV2Table, SubscriptPredicate}
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, ElementAt, EqualTo, Expression, GetMapValue, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual, Literal, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2Relation, DataSourceV2ScanRelation}
import org.apache.spark.sql.types.{ArrayType, MapType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Opt-in optimizer rule: map-subscript equality predicates
  * (`props['k'] = 'v'`, `element_at(props, 'k') = 'v'`) over a graft
  * relation become scan-level FILE pruning via the bloom entry index
  * (ref: PrestoSessionProperties.java:38
  * `range_filters_on_subscripts_enabled`, exercised both ways by
  * TestPrestoITCase.java:706 testQueryMap).
  *
  * Spark's V1/V2 filter translation only carries column-reference
  * predicates, so a subscript predicate never reaches pushedFilters;
  * this rule carries it to the scan builder as a read option instead.
  * The Filter node is left in place, so the rewrite is residual-safe by
  * construction: pruning can only drop files the predicate proves
  * irrelevant (bloom no-false-negatives on entry hashes), and Spark
  * still evaluates the exact predicate row by row. Soundness of the
  * file-level claim additionally requires a non-PK table and
  * plan-replayable key/value rendering — both enforced at planFiles
  * time (GraftTable.plan, FileIndex) and at write time (entry blooms are only built for
  * MapEntryHashesImpl.subscriptSafe map types).
  *
  * Toggle: `spark.graft.subscriptFilters.enabled`, default false like
  * the reference session property. Results are identical either way;
  * the toggle only changes how many files are opened.
  */
case class SubscriptFilterRule(enabled: () => Boolean)
    extends Rule[LogicalPlan] with PredicateHelper {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!enabled()) return plan
    plan.transformUp {
      // pre-pushdown shape (extension-injected rules run in the operator
      // optimization batch): carry the predicates as a read option
      case f @ Filter(cond, r: DataSourceV2Relation)
          if r.table.isInstanceOf[GraftV2Table] &&
            r.options.get(GraftScanBuilder.SubscriptFiltersOption) == null =>
        val subs = splitConjunctivePredicates(cond)
          .flatMap(c => extract(c).toSeq ++ extractVariant(c))
        if (subs.isEmpty) f
        else {
          val merged = new java.util.HashMap[String, String](r.options)
          merged.put(GraftScanBuilder.SubscriptFiltersOption,
            GraftScanBuilder.encodeSubscriptFilters(subs))
          f.copy(child = r.copy(options = new CaseInsensitiveStringMap(merged)))
        }
      // post-pushdown shape (experimental.extraOptimizations run after
      // V2ScanRelationPushDown): swap in a scan copy carrying them
      case f @ Filter(cond, sr: DataSourceV2ScanRelation)
          if sr.scan.isInstanceOf[GraftScan] &&
            sr.scan.asInstanceOf[GraftScan].subscriptFilters.isEmpty =>
        val subs = splitConjunctivePredicates(cond)
          .flatMap(c => extract(c).toSeq ++ extractVariant(c))
        if (subs.isEmpty) f
        else f.copy(child =
          sr.copy(scan = sr.scan.asInstanceOf[GraftScan].withSubscriptFilters(subs)))
    }
  }

  /** `element_at(m, k) = v` / `m[k] = v` with literal key and value over
    * a plain map-typed column — and the array forms `element_at(a, i)`
    * (1-based) / `a[i]` (GetArrayItem, 0-based; normalized to the
    * 1-based entry key the write side hashes) — both operand orders.
    * Only rendering-safe key/value types make a claim (see
    * MapEntryHashesImpl.SafeTypes).
    *
    * Besides equality, RANGE shapes (`m['k'] > 5`, both operand orders,
    * all four inequalities) are carried when the value literal is
    * integral — those prune via the sidecar's per-entry min/max stats
    * rather than the bloom hashes (Catalyst type coercion guarantees the
    * literal's type equals the map value / array element type, which is
    * exactly the write side's stats-eligibility condition). */
  private def extract(e: Expression): Option[SubscriptPredicate] = {
    def idx(k: Any): Option[Long] = k match {
      case i: Int => Some(i.toLong)
      case l: Long => Some(l)
      case s: Short => Some(s.toLong)
      case b: Byte => Some(b.toLong)
      case _ => None
    }
    // (attr, 1-based entry key) — None when the shape/index can't claim.
    // ARRAY subscripts additionally require failOnError=false
    // (try_element_at, or ANSI off): under ANSI an out-of-bounds
    // subscript THROWS, and pruning the file would suppress the error
    // the unpruned query raises — results must be identical either way.
    // (Presto, whose session property this mirrors, is null-on-missing —
    // Spark's equivalent is exactly the failOnError=false shape. Map
    // subscripts return null for absent keys even under ANSI, so maps
    // always claim.)
    def sub(x: Expression): Option[(AttributeReference, String)] = x match {
      case ElementAt(a: AttributeReference, Literal(k, _), _, failOnError) if k != null =>
        a.dataType match {
          case _: MapType => Some((a, k.toString))
          // element_at on arrays is 1-based; negative = from-the-end
          // (length-dependent, no per-file claim possible)
          case _: ArrayType if !failOnError =>
            idx(k).filter(_ >= 1).map(i => (a, i.toString))
          case _ => None
        }
      case GetMapValue(a: AttributeReference, Literal(k, _)) if k != null =>
        Some((a, k.toString))
      case org.apache.spark.sql.catalyst.expressions.GetArrayItem(
          a: AttributeReference, Literal(k, _), failOnError) if k != null && !failOnError =>
        idx(k).filter(_ >= 0).map(i => (a, (i + 1).toString)) // a[i] is 0-based
      // struct (row) subscript `r.f` (ref testRowSubscript,
      // PrestoDistributedQueryTest.java:974): the entry key is the FIELD
      // NAME; null-struct rows fail the predicate like null-map rows, so
      // the absent-hash claim is sound
      case org.apache.spark.sql.catalyst.expressions.GetStructField(
          a: AttributeReference, ord, _) =>
        a.dataType match {
          case st: org.apache.spark.sql.types.StructType =>
            Some((a, st.fields(ord).name))
          case _ => None
        }
      case _ => None
    }
    // struct claims are per-LEAF: the write side hashes only SafeType
    // leaves (and range-stats only integral leaves), so a predicate on
    // any other leaf must not claim. Map/array safety is whole-type.
    def leafSafe(col: AttributeReference, k: String): Boolean = col.dataType match {
      case st: org.apache.spark.sql.types.StructType =>
        st.fields.find(_.name == k)
          .exists(f => MapEntryHashesImpl.SafeTypes(f.dataType))
      case _ => true
    }
    def render(col: AttributeReference, k: String, op: String, v: Any): Option[SubscriptPredicate] =
      if (!MapEntryHashesImpl.subscriptSafe(col.dataType) || v == null ||
          !leafSafe(col, k)) None
      else if (op == "=") Some(SubscriptPredicate(col.name, k, op, v.toString))
      // range claims need an integral value (the stats store Long bounds)
      else idx(v).map(x => SubscriptPredicate(col.name, k, op, x.toString))
    def both(lhs: Expression, rhs: Expression, op: String, flipped: String): Option[SubscriptPredicate] =
      (lhs, rhs) match {
        case (l, Literal(v, _)) => sub(l).flatMap { case (a, k) => render(a, k, op, v) }
        case (Literal(v, _), r) => sub(r).flatMap { case (a, k) => render(a, k, flipped, v) }
        case _ => None
      }
    e match {
      case EqualTo(l, r) => both(l, r, "=", "=")
      case GreaterThan(l, r) => both(l, r, ">", "<")
      case GreaterThanOrEqual(l, r) => both(l, r, ">=", "<=")
      case LessThan(l, r) => both(l, r, "<", ">")
      case LessThanOrEqual(l, r) => both(l, r, "<=", ">=")
      case _ => None
    }
  }

  /** S68 variant/JSON-path shapes over a STRING column with a configured
    * shred (`file-index.variant.columns`): the claims ride the same
    * SubscriptPredicate channel, keyed by the `$.name` path.
    *
    *  - `get_json_object(c, '$.k') = 'lit'` → an equality claim probing
    *    the entry-hash bloom. Sound because BOTH sides render through
    *    the SAME expression (the writer hashed GetJsonObject's raw
    *    output for every row).
    *  - `variant_get(parse_json(c), '$.k', '<integral>') cmp n` and
    *    `[try_]cast(get_json_object(c, '$.k') as bigint) cmp n` → range
    *    claims against the per-path (min, max) stats; integral equality
    *    becomes the (>= n AND <= n) claim pair (the bloom holds RAW text
    *    hashes — "07" vs 7 — so numeric equality must not probe it).
    *    Sound under ANSI/failOnError as well: the writer widens a
    *    path's per-file bounds to the FULL Long range when any non-null
    *    extraction fails the integral parse, so a stats-pruned file
    *    provably holds only values whose numeric cast agrees with the
    *    bound (or nulls) — pruning can neither contradict variant_get's
    *    cast nor suppress its error.
    *
    * Whether the column actually carries a shred (and whether this
    * file's sidecar recorded the path) is verified scan-side, by the
    * bloom kind of `FileIndex` — an unrecorded claim is answered "may
    * match". */
  private def extractVariant(e: Expression): Seq[SubscriptPredicate] = {
    import org.apache.spark.sql.catalyst.expressions.variant.VariantGet
    import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType, StringType}
    def integral(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
      case IntegerType | LongType | ShortType | ByteType => true
      case _ => false
    }
    // parse_json is RuntimeReplaceable: the optimized plan holds its
    // StaticInvoke(VariantExpressionEvalUtils.parseJson, attr, ...) form
    def unwrapJson(x: Expression): Option[AttributeReference] = x match {
      case si: StaticInvoke if si.functionName == "parseJson" =>
        si.arguments.headOption.collect {
          case a: AttributeReference if a.dataType == StringType => a
        }
      case _ => None
    }
    // (attr, path, integral-valued?) for the supported extraction shapes
    def pathOf(x: Expression): Option[(AttributeReference, String, Boolean)] = x match {
      case org.apache.spark.sql.catalyst.expressions.GetJsonObject(
          a: AttributeReference, Literal(p, StringType)) if p != null =>
        Some((a, p.toString, false))
      case org.apache.spark.sql.catalyst.expressions.Cast(inner, dt, _, _) if integral(dt) =>
        pathOf(inner).collect { case (a, p, false) => (a, p, true) }
      case VariantGet(j, Literal(p, StringType), dt, _, _) if p != null && integral(dt) =>
        unwrapJson(j).map(a => (a, p.toString, true))
      case _ => None
    }
    def longOf(v: Any): Option[Long] = v match {
      case i: Int => Some(i.toLong)
      case l: Long => Some(l)
      case s: Short => Some(s.toLong)
      case b: Byte => Some(b.toLong)
      case _ => None
    }
    def claims(x: Expression, v: Any, op: String): Seq[SubscriptPredicate] =
      pathOf(x).toSeq.flatMap {
        case (a, p, false) if op == "=" && v != null =>
          // raw-text equality via the entry-hash bloom
          Seq(SubscriptPredicate(a.name, p, "=", v.toString))
        case (a, p, true) =>
          longOf(v).toSeq.flatMap { n =>
            if (op == "=") Seq(
              SubscriptPredicate(a.name, p, ">=", n.toString),
              SubscriptPredicate(a.name, p, "<=", n.toString))
            else Seq(SubscriptPredicate(a.name, p, op, n.toString))
          }
        case _ => Seq.empty
      }
    def both(lhs: Expression, rhs: Expression, op: String, flipped: String): Seq[SubscriptPredicate] =
      (lhs, rhs) match {
        case (l, Literal(v, _)) => claims(l, v, op)
        case (Literal(v, _), r) => claims(r, v, flipped)
        case _ => Seq.empty
      }
    e match {
      case EqualTo(l, r) => both(l, r, "=", "=")
      case GreaterThan(l, r) => both(l, r, ">", "<")
      case GreaterThanOrEqual(l, r) => both(l, r, ">=", "<=")
      case LessThan(l, r) => both(l, r, "<", ">")
      case LessThanOrEqual(l, r) => both(l, r, "<=", ">=")
      case _ => Seq.empty
    }
  }
}
