package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  Alias, Ascending, Attribute, AttributeSet, GenericInternalRow, JoinedRow,
  RowOrdering, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.plans.physical.{
  ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.graftshim.PlanBridge
import org.apache.spark.sql.types.{
  DataType, DateType, IntegerType, LongType, ShortType, TimestampNTZType, TimestampType}

/** As-of join as a first-class Catalyst operator — the full custom-plan
  * path (logical node → planner strategy → physical sort-merge exec),
  * semantically identical to the composed window formulation in
  * [[graft.operators.AsOfJoin]] (the equivalence is spec- and
  * oracle-pinned).
  *
  * Why a physical operator when the composition already works: the
  * composed form materializes a UNION of both sides and runs a
  * whole-partition window (one shuffle of left+right TOGETHER, every left
  * row carries null payload slots through the exchange, the window sort
  * buffers the union). The exec shuffles each side independently on its
  * own keys, lets EnsureRequirements co-partition and sort them, and then
  * streams BOTH sorted iterators through a single forward-only merge pass
  * per partition — no union row widening, no window buffer, O(1) state
  * (the latest matching right row) beyond the sort. Same exchange count,
  * strictly less data per exchange, and the merge is pipelined rather
  * than buffered.
  *
  * Semantics: for every left row, attach the payload of the latest right
  * row with equal keys (all columns, null keys grouping together as in
  * the window formulation) and `rightTime <= leftTime` (ties on rightTime
  * broken by `rightTie`, largest wins); left rows with no match keep null
  * payload. Null right times sort first, i.e. match any left time — both
  * pinned by the equivalence spec.
  *
  * `tolerance` (optional) bounds staleness: a match additionally requires
  * `leftTime - rightTime <= tolerance`, measured in the time column's
  * native units (µs for timestamps, days for dates, raw units for
  * integers). Because staleness grows monotonically as right rows age,
  * the latest at-or-before row is the ONLY candidate — if it is too
  * stale, the left row keeps null payload; the merge state stays O(1).
  * Under a tolerance both times must be non-null to match (a null time
  * has no defined staleness).
  */
case class AsOfJoinNode(
    left: LogicalPlan, right: LogicalPlan,
    leftKeys: Seq[Attribute], rightKeys: Seq[Attribute],
    leftTime: Attribute, rightTime: Attribute,
    rightTie: Option[Attribute],
    payload: Seq[Attribute],
    tolerance: Option[Long],
    direction: String = "backward",
    allowExactMatches: Boolean = true) extends BinaryNode {

  override def output: Seq[Attribute] =
    left.output ++ payload.map(_.withNullability(true))

  // generic optimizer rules (column pruning) must see EVERYTHING this node
  // consumes: all left columns pass through to the output, while the right
  // side genuinely needs only keys + time + tie + payload — so pruning is
  // free to strip any other right-side column down into the scan
  override def references: AttributeSet =
    AttributeSet(left.output) ++
      AttributeSet(rightKeys ++ Seq(rightTime) ++ rightTie ++ payload)

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinNode =
    copy(left = newLeft, right = newRight)
}

/** Planner strategy: one logical node form, one physical form. */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinNode(l, r, lks, rks, lt, rt, tie, payload, tol, dir, exact) =>
      AsOfJoinExec(planLater(l), planLater(r), lks, rks, lt, rt, tie, payload,
        tol, dir, exact) :: Nil
    case _ => Nil
  }
}

/** Physical sort-merge as-of join.
  *
  * Declares, rather than implements, its distribution needs: each child
  * requires `ClusteredDistribution` on its keys and an ascending
  * (keys…, time[, tie]) ordering, and EnsureRequirements inserts the
  * exchanges and sorts — so AQE, whole-stage-codegen'd children, reused
  * exchanges and skew handling all compose with this operator for free.
  * `doExecute` is a per-partition two-iterator merge: advance the right
  * iterator while its (keys, time) is at or behind the current left row,
  * remembering only the latest payload for the CURRENT key — the match
  * state is one buffered row, never a range buffer, because "latest at or
  * before" needs exactly one candidate once inputs are sorted (and a
  * staleness bound can only DISQUALIFY that candidate, never prefer an
  * older one).
  */
case class AsOfJoinExec(
    left: SparkPlan, right: SparkPlan,
    leftKeys: Seq[Attribute], rightKeys: Seq[Attribute],
    leftTime: Attribute, rightTime: Attribute,
    rightTie: Option[Attribute],
    payload: Seq[Attribute],
    tolerance: Option[Long],
    direction: String = "backward",
    allowExactMatches: Boolean = true) extends BinaryExecNode {

  private val payloadOut = payload.map(_.withNullability(true))

  override def output: Seq[Attribute] = left.output ++ payloadOut

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    leftKeys.map(SortOrder(_, Ascending)) :+ SortOrder(leftTime, Ascending),
    rightKeys.map(SortOrder(_, Ascending)) ++
      (Seq(SortOrder(rightTime, Ascending)) ++ rightTie.map(SortOrder(_, Ascending))))

  // left rows stream through in their sorted order, on their partitioning —
  // a downstream consumer needing (keys, time) order pays no second sort
  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = left.outputOrdering

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)

  /** Native-unit accessor for the single-column time row — only invoked
    * when a tolerance is set (the API layer restricts time types then).
    */
  private def timeGetter(dt: DataType): InternalRow => Long = dt match {
    case IntegerType | DateType => (r: InternalRow) => r.getInt(0).toLong
    case ShortType => (r: InternalRow) => r.getShort(0).toLong
    case LongType | TimestampType | TimestampNTZType => (r: InternalRow) => r.getLong(0)
    case other =>
      throw new IllegalStateException(s"tolerance unsupported for time type $other")
  }

  override protected def doExecute(): RDD[InternalRow] = {
    // capture plain values — the closure must not drag the SparkPlan in
    val lOut = left.output
    val rOut = right.output
    val (lKeys, rKeys, lTime, rTime) = (leftKeys, rightKeys, leftTime, rightTime)
    val tol = tolerance
    val fwd = direction == "forward"
    val near = direction == "nearest"
    // allowExactMatches=false (pandas merge_asof): equal times do NOT
    // match — backward becomes strictly-before, forward strictly-after,
    // nearest picks among the two strict candidates
    val exact = allowExactMatches
    // nearest needs native-unit times even without a tolerance (distances
    // are compared); the API layer restricts its time types accordingly
    val getTime = if (tol.nonEmpty || near) Some(timeGetter(lTime.dataType)) else None
    // the NULLABLE payload view everywhere downstream: unmatched left rows
    // emit a null payload row, so binding the result projection against
    // the original (possibly non-nullable) attributes would let codegen
    // skip the null check and read garbage instead of null
    val payloadAttrs = payloadOut
    val outAttrs = output
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      // codegen'd helpers are built per partition, on the executor
      val lKeyProj = UnsafeProjection.create(lKeys, lOut)
      val rKeyProj = UnsafeProjection.create(rKeys, rOut)
      val lTimeProj = UnsafeProjection.create(Seq(lTime), lOut)
      val rTimeProj = UnsafeProjection.create(Seq(rTime), rOut)
      val payloadProj = UnsafeProjection.create(payloadAttrs, rOut)
      val resultProj = UnsafeProjection.create(outAttrs, lOut ++ payloadAttrs)
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(lKeys.map(_.dataType))
      val timeOrd = RowOrdering.createNaturalAscendingOrdering(Seq(lTime.dataType))
      val nullPayload = new GenericInternalRow(payloadAttrs.length)
      val joined = new JoinedRow

      // one-row lookahead over the right side; rows are copied because the
      // upstream sorter reuses its row buffer
      var rHead: InternalRow = if (rIter.hasNext) rIter.next().copy() else null
      // the latest matching right payload, the key it belongs to, and its
      // time (for the staleness bound)
      var lastMatch: InternalRow = null
      var lastMatchKey: InternalRow = null
      var lastTimeNull = false
      var lastTimeVal = 0L
      // nearest+strict only: the last row of a time group EQUAL to the
      // current left time. Not a candidate for this left row, but the
      // newest strictly-before row for any LATER left time — held here so
      // the lookahead can advance past the group to the true forward
      // candidate, then promoted into lastMatch once the left time moves
      var eqMatch: InternalRow = null
      var eqMatchKey: InternalRow = null
      var eqTimeVal = 0L

      if (fwd) lIter.map { lRow =>
        // FORWARD direction: match the EARLIEST right row at-or-after the
        // left time. The candidate is always the lookahead row itself —
        // discard right rows strictly before the current left time (left
        // times ascend, so they can never match a later left row either)
        // and NEVER consume on match (the same right row may be the
        // forward match of many left rows).
        //
        // Null-time semantics (pinned; tested in AsOfJoinSpec): a null
        // RIGHT time never matches forward — "at-or-after" is undefined
        // for it — and is consumed unconditionally by the advance (null
        // times sort first within their key, so no later left row could
        // match it either). A null LEFT time matches nothing: an unknown
        // anchor has no earliest-at-or-after row. Both choices mirror
        // what a tolerance would force anyway (tol requires non-null on
        // both sides) so tol/no-tol agree on null handling.
        val lk = lKeyProj(lRow)
        val lt = lTimeProj(lRow)
        val ltNull = lt.isNullAt(0)
        var advancing = true
        while (rHead != null && advancing) {
          val c = keyOrd.compare(rKeyProj(rHead), lk)
          // strict mode also discards the equal-time row: no later left
          // row (times ascend) could need it under strictly-after either
          val tCmp = if (c == 0 && !ltNull && !rTimeProj(rHead).isNullAt(0))
            timeOrd.compare(rTimeProj(rHead), lt) else 1
          if (c < 0 ||
              (c == 0 && rTimeProj(rHead).isNullAt(0)) ||
              (c == 0 && !ltNull && (tCmp < 0 || (!exact && tCmp == 0)))) {
            rHead = if (rIter.hasNext) rIter.next().copy() else null
          } else advancing = false
        }
        val matched =
          !ltNull && rHead != null && keyOrd.compare(rKeyProj(rHead), lk) == 0 &&
            (tol match {
              case None => true
              case Some(t) =>
                val tr = rTimeProj(rHead)
                !tr.isNullAt(0) && getTime.get(tr) - getTime.get(lt) <= t
            })
        resultProj(joined(lRow, if (matched) payloadProj(rHead) else nullPayload))
      }
      else lIter.map { lRow =>
        val lk = lKeyProj(lRow) // valid until the next left row
        val lt = lTimeProj(lRow)
        // promote a stalled equal-time group the left time has now passed:
        // it supersedes any older buffered match (it is newer in sort
        // order); a group from an already-passed key is dropped
        if (near && !exact && eqMatch != null) {
          val kc = keyOrd.compare(eqMatchKey, lk)
          if (kc < 0) { eqMatch = null; eqMatchKey = null }
          else if (kc == 0 && !lt.isNullAt(0) && eqTimeVal < getTime.get(lt)) {
            lastMatch = eqMatch; lastMatchKey = eqMatchKey
            lastTimeNull = false; lastTimeVal = eqTimeVal
            eqMatch = null; eqMatchKey = null
          }
        }
        var advancing = true
        while (rHead != null && advancing) {
          val c = keyOrd.compare(rKeyProj(rHead), lk)
          if (c < 0) {
            // right rows for keys already passed: discard
            rHead = if (rIter.hasNext) rIter.next().copy() else null
          } else if (c == 0 && {
            // strict mode leaves the equal-time row as lookahead: it is
            // not an at-or-before match for this left row, but a LATER
            // left row with a larger time still consumes it
            val tCmp = timeOrd.compare(rTimeProj(rHead), lt)
            tCmp < 0 || (exact && tCmp == 0)
          }) {
            // at-or-before right row for THIS key: later ones overwrite
            // earlier ones (sorted by time then tie ⇒ latest + tie-break
            // win), so the state is exactly one buffered payload. In
            // nearest mode a null-time row is consumed but NOT buffered —
            // it has no distance (nearest null-time semantics mirror the
            // forward path's: null times on either side never match).
            val tr = rTimeProj(rHead)
            val trNull = tr.isNullAt(0)
            if (!near || !trNull) {
              lastMatch = payloadProj(rHead).copy()
              lastMatchKey = rKeyProj(rHead).copy()
              getTime.foreach { g =>
                lastTimeNull = trNull
                if (!trNull) lastTimeVal = g(tr)
              }
            }
            rHead = if (rIter.hasNext) rIter.next().copy() else null
          } else if (near && !exact && c == 0 && !lt.isNullAt(0) &&
              !rTimeProj(rHead).isNullAt(0) &&
              timeOrd.compare(rTimeProj(rHead), lt) == 0) {
            // nearest+strict: consume the equal-time row into the eq slot
            // (later rows of the group overwrite — the latest wins) so the
            // lookahead reaches the first strictly-after row
            eqMatch = payloadProj(rHead).copy()
            eqMatchKey = rKeyProj(rHead).copy()
            eqTimeVal = getTime.get(rTimeProj(rHead))
            rHead = if (rIter.hasNext) rIter.next().copy() else null
          } else advancing = false
        }
        if (near) {
          // NEAREST: the backward advance leaves BOTH candidates in hand —
          // the buffered latest at-or-before row, and the lookahead row,
          // which is exactly the earliest strictly-after row for this key
          // (equal-time rows were consumed into the backward buffer, where
          // distance 0 wins anyway). Pick the smaller |distance|; ties go
          // BACKWARD (the pandas merge_asof convention); a tolerance
          // bounds the CHOSEN side's distance symmetrically.
          val ltNull = lt.isNullAt(0)
          // explicit candidate flags — a sentinel "infinite distance"
          // would slip through an unbounded tolerance (MaxValue <=
          // MaxValue) and match a row that does not exist
          var backOk = false
          var backDist = 0L
          if (!ltNull && lastMatch != null && !lastTimeNull &&
              keyOrd.compare(lastMatchKey, lk) == 0) {
            backOk = true
            backDist = getTime.get(lt) - lastTimeVal
          }
          var fwdOk = false
          var fwdDist = 0L
          if (!ltNull && rHead != null && keyOrd.compare(rKeyProj(rHead), lk) == 0) {
            val tr = rTimeProj(rHead)
            if (!tr.isNullAt(0)) {
              fwdDist = getTime.get(tr) - getTime.get(lt)
              // in strict mode the equal-time row stays in the lookahead
              // (the backward advance no longer consumes it) — it is not
              // a candidate on either side
              fwdOk = exact || fwdDist > 0
            }
          }
          val bound = tol.getOrElse(Long.MaxValue)
          val bOk = backOk && backDist <= bound
          val fOk = fwdOk && fwdDist <= bound
          val payloadRow =
            if (bOk && (!fOk || backDist <= fwdDist)) lastMatch
            else if (fOk) payloadProj(rHead)
            else nullPayload
          resultProj(joined(lRow, payloadRow))
        } else {
          // the buffered match may be from an earlier key (left can skip
          // keys the right side never had, and vice versa) — emit it only
          // for its own key, and under a tolerance only when fresh enough
          val matched =
            lastMatch != null && keyOrd.compare(lastMatchKey, lk) == 0 &&
              (tol match {
                case None => true
                case Some(t) =>
                  !lastTimeNull && !lt.isNullAt(0) &&
                    getTime.get(lt) - lastTimeVal <= t
              })
          resultProj(joined(lRow, if (matched) lastMatch else nullPayload))
        }
      }
    }
  }
}

/** DataFrame-level entry point. */
object AsOfJoinPlans {

  private val toleranceTimeTypes: Set[DataType] =
    Set(LongType, IntegerType, ShortType, DateType, TimestampType, TimestampNTZType)

  /** Single-key as-of join through the custom operator; same argument
    * contract as [[graft.operators.AsOfJoin.asOfJoin]].
    */
  def asOfJoinExec(
      left: DataFrame, right: DataFrame,
      key: String, leftTime: String, rightTime: String,
      payload: Seq[String], rightTieBreak: String = null): DataFrame =
    asOfJoinExecKeys(left, right, Seq(key), leftTime, rightTime, payload,
      Option(rightTieBreak), None)

  /** General form: composite equality keys and an optional staleness
    * bound. `tolerance` is in the time column's native units (µs for
    * TIMESTAMP, days for DATE, raw units for integral columns); a match
    * requires `leftTime - rightTime <= tolerance`, so `Some(0)` means
    * "exactly at the left time" and `None` means unbounded (classic
    * as-of).
    */
  def asOfJoinExecKeys(
      left: DataFrame, right: DataFrame,
      keys: Seq[String], leftTime: String, rightTime: String,
      payload: Seq[String],
      rightTieBreak: Option[String] = None,
      tolerance: Option[Long] = None,
      direction: String = "backward",
      allowExactMatches: Boolean = true): DataFrame = {
    val spark = left.sparkSession
    require(keys.nonEmpty, "as-of join needs at least one key column")
    // backward = latest right at-or-before (ties: LARGEST rightTieBreak
    // wins — later rows overwrite); forward = earliest right at-or-after
    // (ties: SMALLEST wins — the first row in sort order is the match);
    // nearest = whichever of those two candidates has the smaller
    // |leftTime − rightTime|, equal distances resolving BACKWARD (the
    // pandas merge_asof convention) and null times on either side never
    // matching. Under a tolerance the staleness is measured in the match
    // direction: leftTime - rightTime (backward) / rightTime - leftTime
    // (forward) / the chosen side's distance (nearest).
    // allowExactMatches=false is pandas merge_asof's strict mode: an
    // equal-time right row never matches — backward means strictly
    // before, forward strictly after, nearest picks among the two strict
    // candidates (a pair of equal times counts as equal, so null-null
    // also never matches strictly).
    require(Set("backward", "forward", "nearest").contains(direction),
      s"direction must be 'backward', 'forward' or 'nearest', got '$direction'")
    require(!payload.exists(left.columns.contains),
      s"payload columns ${payload.filter(left.columns.contains)} collide with left columns")
    tolerance.foreach(t => require(t >= 0, s"tolerance must be >= 0, got $t"))
    val lPlan = left.queryExecution.analyzed
    // SELF-JOIN SAFETY: when both sides derive from the same Dataset their
    // subtrees share expression ids. The analyzer's DeduplicateRelations
    // re-ids the right SUBTREE but cannot know which of this custom node's
    // attribute fields belong to which side — so give the right side fresh
    // ids OURSELVES via a Project of aliases, and resolve the node's
    // right-side fields against those. The subtree under the Project may
    // then be re-ided freely; the alias ids the node holds stay valid.
    val rAnalyzed = right.queryExecution.analyzed
    val rAliases = rAnalyzed.output.map(a => Alias(a, a.name)())
    val rPlan = Project(rAliases, rAnalyzed)
    def attr(out: Seq[Attribute], name: String, side: String): Attribute =
      out.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(
          s"$side side has no column '$name' (has: ${out.map(_.name).mkString(", ")})"))
    val rOut = rAliases.map(_.toAttribute)
    val lks = keys.map(attr(lPlan.output, _, "left"))
    val rks = keys.map(attr(rOut, _, "right"))
    val (lt, rt) = (attr(lPlan.output, leftTime, "left"), attr(rOut, rightTime, "right"))
    // the exec hashes each side on its own columns and compares right rows
    // with orderings built from the LEFT types — a type mismatch would not
    // error, it would silently drop matches (different hashes for equal
    // values, garbage comparisons), so reject it here
    lks.zip(rks).foreach { case (lk, rk) =>
      require(lk.dataType == rk.dataType,
        s"key type mismatch: left '${lk.name}' is ${lk.dataType}, right is ${rk.dataType}")
    }
    require(lt.dataType == rt.dataType,
      s"time type mismatch: left '$leftTime' is ${lt.dataType}, right '$rightTime' is ${rt.dataType}")
    if (tolerance.nonEmpty || direction == "nearest")
      require(toleranceTimeTypes.contains(lt.dataType),
        s"tolerance/nearest need an integral-backed time column, got ${lt.dataType}")
    PlanBridge.ofRows(spark, AsOfJoinNode(
      lPlan, rPlan, lks, rks, lt, rt,
      rightTieBreak.map(attr(rOut, _, "right")),
      payload.map(attr(rOut, _, "right")),
      tolerance, direction, allowExactMatches))
  }
}
