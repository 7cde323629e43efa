package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.execution.{BinaryExecNode, CodegenSupport, SparkPlan, SparkStrategy}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, BindReferences, BoundReference, Cast, Expression, JoinedRow, SortOrder, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, GenerateUnsafeProjection, JavaCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.types.{ByteType, DataType, DateType, IntegerType, LongType, ShortType, TimestampNTZType, TimestampType}

/** AS-OF JOIN as a first-class operator (SURVEY.md §4.3 escalation path):
  * for each left row, the single latest right row with the same key and
  * `rightTime <= leftTime`, ties on time broken by the largest
  * `rightTie`. Left rows with no match keep nulls (left-outer
  * semantics) — exactly the semantics of the composed
  * window/row_number formulation in `Advanced.qAsofJoin`, but executed
  * as one merge pass instead of join + explode + window.
  *
  * Physical strategy: both sides hash-cluster on the key (the planner
  * inserts the exchanges/sorts via requiredChildDistribution/Ordering),
  * the right side arrives sorted (key, time, tie), and a per-key binary
  * search resolves each left row — O(|L| log |R_k|) with no row
  * amplification, versus the composed form's |L|·|matches| intermediate
  * blowup. The per-key right buffer is SPILL-SAFE: rows live in the
  * same ExternalAppendOnlyUnsafeRowArray structure SortMergeJoinExec
  * buffers its matches in (via [[org.apache.spark.sql.execution.GraftSpillableRowBuffer]]),
  * governed by the sortMergeJoinExec.buffer.* thresholds — a skewed key
  * with millions of right rows degrades to disk instead of OOMing the
  * task. Spilled-buffer probes ride the buffer's cached forward cursor:
  * left rows are time-sorted so the answer index never moves backwards
  * within a key group, making the spill replay one sequential read per
  * group (a backward probe — which this exec never issues — would
  * restart the replay, the quadratic worst case).
  * Key/time/tie may be any integral, date, or timestamp type;
  * [[AsOfStrategy]] widens narrow types to LONG (order- and
  * equality-preserving), so the exec reads every value as a Java long
  * and participates in whole-stage codegen.
  */
case class AsOfJoin(
    left: LogicalPlan, right: LogicalPlan,
    leftKey: Expression, leftTime: Expression,
    rightKey: Expression, rightTime: Expression, rightTie: Expression)
  extends BinaryNode {
  // loud type check at construction: the exec reads key/time/tie as
  // Java longs after the strategy's widening, so only types with an
  // order-preserving embedding into LONG are accepted
  require(
    Seq(leftKey, rightKey, leftTime, rightTime, rightTie)
      .forall(e => AsOfStrategy.widenable(e.dataType)),
    s"AsOfJoin supports LONG/TIMESTAMP and widenable INT/SHORT/BYTE/DATE key, " +
      s"time, and tie columns; got " +
      Seq(leftKey, leftTime, rightKey, rightTime, rightTie).map(_.dataType.simpleString).mkString(", "))
  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoin =
    copy(left = newLeft, right = newRight)
}

/** DATE (internally Int days since epoch) widened to LONG days — Spark's
  * Cast forbids date→numeric, but the as-of merge only needs an order-
  * and equality-preserving LONG embedding, which day count is. */
case class DateDays(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "date_days"
  override def nullSafeEval(v: Any): Any = v.asInstanceOf[Int].toLong
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"(long)($c)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

case class AsOfJoinExec(
    left: SparkPlan, right: SparkPlan,
    leftKey: Expression, leftTime: Expression,
    rightKey: Expression, rightTime: Expression, rightTie: Expression)
  extends BinaryExecNode with CodegenSupport {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(leftKey)) :: ClusteredDistribution(Seq(rightKey)) :: Nil

  // The LEFT ordering includes the probe time, not just the key: the
  // spillable right buffer serves backward reads by replaying its spill
  // file from the start, so the whole spill design rests on probes
  // moving monotonically forward within a key group. Key-only ordering
  // would let a non-monotonic probe expression (a per-row cutoff)
  // degrade every spilled skewed key to quadratic spill replay. The
  // result set is per-left-row and order-insensitive, so requiring the
  // extra sort column is free where the data is already time-sorted and
  // a plain sort key otherwise.
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending)),
    Seq(SortOrder(rightKey, Ascending), SortOrder(rightTime, Ascending),
      SortOrder(rightTie, Ascending)))

  // Per-key right-buffer thresholds: the same knobs SortMergeJoinExec
  // uses for its matched-group buffer — beyond the in-memory row count
  // the buffer spills via UnsafeExternalSorter instead of OOMing the
  // task on a skewed key (one key with millions of right rows). The
  // time column rides in a primitive long[] for the binary search
  // (8 bytes/row — the row payload, not the index, is the memory risk).
  private def bufferThresholds: (Int, Int, Long) = (
    conf.sortMergeJoinExecBufferInMemoryThreshold,
    conf.sortMergeJoinExecBufferSpillThreshold,
    conf.sortMergeJoinExecBufferSpillSizeThreshold)

  override protected def doExecute(): RDD[InternalRow] = {
    val lKey = BindReferences.bindReference(leftKey, left.output)
    val lTime = BindReferences.bindReference(leftTime, left.output)
    val rKey = BindReferences.bindReference(rightKey, right.output)
    val rTime = BindReferences.bindReference(rightTime, right.output)
    val rightSchema = right.output
    val outAttrs = output
    val (inMemT, spillT, spillSzT) = bufferThresholds

    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val joiner = new JoinedRow
      val toUnsafe = GenerateUnsafeProjection.generate(
        outAttrs.map(a => BindReferences.bindReference(a: Expression, outAttrs)))
      val nullRight = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        rightSchema.length)
      val rBuf = rIter.buffered

      // per-key buffer of right rows (sorted by time, tie — child
      // ordering); rows live in the spill-safe buffer, times in a
      // parallel primitive array for the binary search
      var bufKey = Long.MinValue
      var bufValid = false
      val rows = new org.apache.spark.sql.execution.GraftSpillableRowBuffer(
        inMemT, spillT, spillSzT)
      var times: Array[Long] = new Array[Long](16)
      var nTimes = 0

      def loadKey(k: Long): Unit = {
        // skip right groups below k — null-keyed right rows sort first
        // (Ascending = NULLS FIRST) and can never equi-match, so they
        // are consumed here too
        while (rBuf.hasNext && {
          val rv = rKey.eval(rBuf.head)
          rv == null || rv.asInstanceOf[Long] < k
        }) rBuf.next()
        rows.clear(); nTimes = 0
        while (rBuf.hasNext && {
          val rv = rKey.eval(rBuf.head)
          rv != null && rv.asInstanceOf[Long] == k
        }) {
          // rows.add copies internally, so the sort iterator's reused
          // row instance is safe to hand over uncopied; time is read
          // before the next head() overwrites the instance
          val r = rBuf.next()
          // a null right time can never satisfy time <= cutoff (SQL
          // comparison semantics) — exclude it from the buffer
          val tv = rTime.eval(r)
          if (tv != null) {
            if (nTimes == times.length) times = java.util.Arrays.copyOf(times, nTimes * 2)
            times(nTimes) = tv.asInstanceOf[Long]
            nTimes += 1
            rows.add(r.asInstanceOf[org.apache.spark.sql.catalyst.expressions.UnsafeRow])
          }
        }
        bufKey = k
        bufValid = true
      }

      lIter.map { lRow =>
        val kv = lKey.eval(lRow)
        val cv = lTime.eval(lRow)
        if (kv == null || cv == null) {
          // null key or cutoff matches nothing (`=`/`<=` are null-
          // rejecting) → left-outer null right side, same as the
          // composed join+window form
          toUnsafe(joiner(lRow, nullRight))
        } else {
        val k = kv.asInstanceOf[Long]
        if (!bufValid || k != bufKey) {
          // left is sorted by key, so forward-only loading is complete
          if (bufValid && k < bufKey) throw new IllegalStateException("left not sorted by key")
          loadKey(k)
        }
        val cutoff = cv.asInstanceOf[Long]
        // binary search: last index with time <= cutoff (ties already
        // ordered by tie ascending → last one is the max tie)
        var lo = 0; var hi = nTimes - 1; var ans = -1
        while (lo <= hi) {
          val mid = (lo + hi) >>> 1
          if (times(mid) <= cutoff) { ans = mid; lo = mid + 1 } else hi = mid - 1
        }
        val joined =
          if (ans >= 0) joiner(lRow, rows.get(ans)) else joiner(lRow, nullRight)
        toUnsafe(joined)
        }
      }
    }
  }

  // ---- whole-stage codegen -------------------------------------------
  // Same shape Spark's SortMergeJoinExec uses: the node is a codegen
  // root over TWO raw input iterators (inputs[0]=left, inputs[1]=right);
  // the generated loop evaluates key/cutoff inline, maintains the
  // per-key right buffer in fields, binary-searches a long[] of times,
  // and feeds unpacked column variables straight into the parent's
  // consume — no JoinedRow, no per-row UnsafeProjection.

  override def inputRDDs(): Seq[RDD[InternalRow]] =
    left.execute() :: right.execute() :: Nil

  // buffered right rows are reused across output rows of one key group
  override def needCopyResult: Boolean = true

  override protected def doProduce(ctx: CodegenContext): String = {
    val (inMemT, spillT, spillSzT) = bufferThresholds
    val leftInput = ctx.addMutableState("scala.collection.Iterator", "asofLeftInput",
      v => s"$v = inputs[0];")
    val rightInput = ctx.addMutableState("scala.collection.Iterator", "asofRightInput",
      v => s"$v = inputs[1];")
    val heldRight = ctx.addMutableState("InternalRow", "asofHeldRight")
    // spill-safe per-key row buffer (the SortMergeJoin matched-buffer
    // structure); the parallel long[] of times serves the binary search
    val bufRows = ctx.addMutableState(
      "org.apache.spark.sql.execution.GraftSpillableRowBuffer", "asofBufRows",
      v => s"$v = new org.apache.spark.sql.execution.GraftSpillableRowBuffer(" +
        s"$inMemT, $spillT, ${spillSzT}L);")
    val bufTimes = ctx.addMutableState("long[]", "asofBufTimes",
      v => s"$v = new long[16];")
    val bufLen = ctx.addMutableState("int", "asofBufLen")
    val bufKey = ctx.addMutableState("long", "asofBufKey")
    val bufValid = ctx.addMutableState("boolean", "asofBufValid")

    // -- loadKey(k): advance the right iterator to key group k, buffer
    // its rows (time-sorted by child ordering; null times excluded)
    val rrow = ctx.freshName("rrow")
    ctx.INPUT_ROW = rrow
    ctx.currentVars = null
    val rkEv = BindReferences.bindReference(rightKey, right.output).genCode(ctx)
    val rtEv = BindReferences.bindReference(rightTime, right.output).genCode(ctx)
    val loadKey = ctx.addNewFunction("asofLoadKey",
      s"""
         |private void asofLoadKey(long k) {
         |  $bufRows.clear();
         |  $bufLen = 0;
         |  while ($heldRight != null || $rightInput.hasNext()) {
         |    InternalRow $rrow = ($heldRight != null) ? $heldRight : (InternalRow) $rightInput.next();
         |    $heldRight = null;
         |    ${rkEv.code}
         |    if (${rkEv.isNull} || ${rkEv.value} < k) continue;  // below k / null key: skip
         |    if (${rkEv.value} > k) { $heldRight = $rrow; break; } // next group: hold back
         |    ${rtEv.code}
         |    if (${rtEv.isNull}) continue;                        // null time never matches
         |    if ($bufLen == $bufTimes.length) {
         |      long[] grown = new long[$bufLen * 2];
         |      System.arraycopy($bufTimes, 0, grown, 0, $bufLen);
         |      $bufTimes = grown;
         |    }
         |    $bufTimes[$bufLen++] = ${rtEv.value};
         |    // add() copies — the iterator's reused row instance is safe
         |    $bufRows.add((org.apache.spark.sql.catalyst.expressions.UnsafeRow) $rrow);
         |  }
         |  $bufKey = k;
         |  $bufValid = true;
         |}
       """.stripMargin)

    // -- main loop: one output row per left row
    val leftRow = ctx.freshName("asofLeftRow")
    ctx.INPUT_ROW = leftRow
    ctx.currentVars = null
    val lkEv = BindReferences.bindReference(leftKey, left.output).genCode(ctx)
    val ltEv = BindReferences.bindReference(leftTime, left.output).genCode(ctx)
    val leftVars = left.output.zipWithIndex.map { case (a, i) =>
      BoundReference(i, a.dataType, a.nullable).genCode(ctx)
    }
    // right-side columns guarded on the matched row (null when no match)
    val matched = ctx.freshName("asofMatched")
    ctx.INPUT_ROW = matched
    ctx.currentVars = null
    val rightVars = right.output.zipWithIndex.map { case (a, i) =>
      val ev = BoundReference(i, a.dataType, a.nullable).genCode(ctx)
      val isNull = ctx.freshName("asofIsNull")
      val value = ctx.freshName("asofValue")
      val jt = CodeGenerator.javaType(a.dataType)
      val guarded =
        code"""
           |boolean $isNull = true;
           |$jt $value = ${CodeGenerator.defaultValue(a.dataType)};
           |if ($matched != null) {
           |  ${ev.code}
           |  $isNull = ${ev.isNull};
           |  $value = ${ev.value};
           |}
         """.stripMargin
      ExprCode(guarded, JavaCode.isNullVariable(isNull), JavaCode.variable(value, a.dataType))
    }
    val ans = ctx.freshName("asofAns")
    val lo = ctx.freshName("asofLo")
    val hi = ctx.freshName("asofHi")
    val mid = ctx.freshName("asofMid")
    val k = ctx.freshName("asofK")
    val cutoff = ctx.freshName("asofCutoff")
    // evaluateVariables emits each var's code once and blanks it so the
    // parent's consume cannot re-evaluate
    val leftVarsCode = evaluateVariables(leftVars)
    val rightVarsCode = evaluateVariables(rightVars)
    s"""
       |while ($leftInput.hasNext()) {
       |  InternalRow $leftRow = (InternalRow) $leftInput.next();
       |  ${lkEv.code}
       |  ${ltEv.code}
       |  int $ans = -1;
       |  if (!(${lkEv.isNull} || ${ltEv.isNull})) {
       |    long $k = ${lkEv.value};
       |    if (!$bufValid || $k != $bufKey) {
       |      $loadKey($k);
       |    }
       |    long $cutoff = ${ltEv.value};
       |    int $lo = 0;
       |    int $hi = $bufLen - 1;
       |    while ($lo <= $hi) {
       |      int $mid = ($lo + $hi) >>> 1;
       |      if ($bufTimes[$mid] <= $cutoff) { $ans = $mid; $lo = $mid + 1; } else { $hi = $mid - 1; }
       |    }
       |  }
       |  InternalRow $matched = ($ans >= 0) ? (InternalRow) $bufRows.get($ans) : null;
       |  // (spilled buffers return a reused row — consumed before the next get)
       |  $leftVarsCode
       |  $rightVarsCode
       |  ${consume(ctx, leftVars ++ rightVars).trim}
       |  if (shouldStop()) return;
       |}
     """.stripMargin
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}

object AsOfStrategy extends SparkStrategy {
  /** Types accepted by [[AsOfJoin]]: LONG/TIMESTAMP natively, plus the
    * narrow integral types and DATE which [[widen]] embeds into LONG. */
  def widenable(t: DataType): Boolean = t match {
    case LongType | TimestampType | TimestampNTZType => true
    case IntegerType | ShortType | ByteType | DateType => true
    case _ => false
  }

  /** Order- and equality-preserving widening to a LONG-evaluating
    * expression (timestamps already evaluate to Long internally). */
  private def widen(e: Expression): Expression = e.dataType match {
    case IntegerType | ShortType | ByteType => Cast(e, LongType)
    case DateType => DateDays(e)
    case _ => e
  }

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoin(l, r, lk, lt, rk, rt, tie) =>
      AsOfJoinExec(planLater(l), planLater(r),
        widen(lk), widen(lt), widen(rk), widen(rt), widen(tie)) :: Nil
    case _ => Nil
  }
}
