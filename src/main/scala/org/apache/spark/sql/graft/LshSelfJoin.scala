package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, BindReferences, Expression, GenericInternalRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.classic.{Dataset, SparkSession}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
import org.apache.spark.unsafe.types.UTF8String

/** Banded-LSH candidate self-join as a first-class operator — the (c)
  * tier of the custom-op ladder, following [[AsOfJoinPlan]]. The hottest
  * dedup shape (round-9 verdict task 5) was compositional: the banded
  * signature table self-joined on (band, bucket-hash) with `l.id < r.id`
  * — which shuffles the SAME table twice (once per join side), builds a
  * hash table of one whole side per partition, and re-filters the
  * diagonal. This operator does what a dedup engine does natively:
  * cluster the table ONCE on (band, bh), sort each partition by
  * (band, bh, id), then walk bucket runs emitting the upper-triangle
  * id pairs directly — one shuffle of one copy, zero hash build, pairs
  * never materialized except as the output stream.
  *
  * Semantics are exactly the composition's: per (band, bh) bucket, all
  * (a, b) with a < b over the bucket's non-null distinct ids; rows with
  * a null band/bucket/id never pair (SQL equi-join + `<` semantics).
  * Cross-band duplicate pairs are emitted (same as the join) — the
  * caller's `distinct()` dedups, unchanged. A bucket's ids are buffered
  * (the join buffered a whole partition's build side); bucket size is
  * bounded by the LSH design, and the emission is streaming in the
  * output.
  */
case class LshSelfJoinPlan(
    child: LogicalPlan,
    idExpr: Expression,
    band: Expression,
    bh: Expression,
    outA: Attribute,
    outB: Attribute) extends UnaryNode {
  override def output: Seq[Attribute] = Seq(outA, outB)
  // the pair columns are GENERATED here, not derived from the child
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(Seq(outA, outB))
  override protected def withNewChildInternal(
      newChild: LogicalPlan): LshSelfJoinPlan = copy(child = newChild)
}

object LshSelfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case p: LshSelfJoinPlan =>
      LshSelfJoinExec(p.idExpr, p.band, p.bh, p.outA, p.outB,
        planLater(p.child)) :: Nil
    case _ => Nil
  }
}

case class LshSelfJoinExec(
    idExpr: Expression,
    band: Expression,
    bh: Expression,
    outA: Attribute,
    outB: Attribute,
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = Seq(outA, outB)

  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(Seq(outA, outB))

  // one shuffle: cluster bucket keys so a bucket's rows are colocated
  override def requiredChildDistribution: Seq[Distribution] =
    Seq(ClusteredDistribution(Seq(band, bh)))

  // bucket runs arrive contiguous and id-sorted: emission is one pass
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(band, Ascending), SortOrder(bh, Ascending),
      SortOrder(idExpr, Ascending)))

  // output rows are (doc_a, doc_b) — the child's (band, bh) clustering
  // says nothing about them
  override def outputPartitioning: Partitioning =
    UnknownPartitioning(child.outputPartitioning.numPartitions)

  override protected def doExecute(): RDD[InternalRow] = {
    val idE = BindReferences.bindReference(idExpr, child.output)
    val bandE = BindReferences.bindReference(band, child.output)
    val bhE = BindReferences.bindReference(bh, child.output)
    child.execute().mapPartitionsInternal { it =>
      new Iterator[InternalRow] {
        private val proj = UnsafeProjection.create(
          Array[org.apache.spark.sql.types.DataType](LongType, LongType))
        private val row = new GenericInternalRow(2)
        private val buf = it.buffered
        // current bucket's distinct non-null ids, ascending
        private var ids = new Array[Long](64)
        private var n = 0
        private var i = 0
        private var j = 0

        // iterator rows reuse backing buffers: copy the run key
        private def keyCopy(v: Any): Any = v match {
          case s: UTF8String => s.copy()
          case b: Array[Byte] => b.clone()
          case other => other
        }

        // value equality across every bucket-key type: Objects.equals is
        // REFERENCE equality for Array[Byte] (BinaryType eval values),
        // and UnsafeRow.getBinary returns a fresh array per eval — a
        // binary bh column would never extend a run, every row would
        // start its own 1-element bucket, and the operator would
        // silently emit ZERO pairs
        private def keyEq(a: Any, b: Any): Boolean = (a, b) match {
          case (x: Array[Byte], y: Array[Byte]) => java.util.Arrays.equals(x, y)
          case _ => java.util.Objects.equals(a, b)
        }

        /** Load the next bucket run with >= 2 ids; false when exhausted. */
        private def nextBucket(): Boolean = {
          while (buf.hasNext) {
            val first = buf.next()
            val bandK = keyCopy(bandE.eval(first))
            val bhK = keyCopy(bhE.eval(first))
            n = 0
            def add(r: InternalRow): Unit = {
              val v = idE.eval(r)
              if (v != null) {
                val x = v.asInstanceOf[Long]
                if (n == 0 || ids(n - 1) != x) {
                  if (n == ids.length) ids = java.util.Arrays.copyOf(ids, n * 2)
                  ids(n) = x
                  n += 1
                }
              }
            }
            // a null bucket key never equi-joins: consume the run, pair nothing
            val liveBucket = bandK != null && bhK != null
            if (liveBucket) add(first)
            var run = true
            while (run && buf.hasNext) {
              val r = buf.head
              if (keyEq(bandE.eval(r), bandK) &&
                  keyEq(bhE.eval(r), bhK)) {
                if (liveBucket) add(r)
                buf.next()
              } else run = false
            }
            if (n >= 2) { i = 0; j = 1; return true }
          }
          false
        }

        override def hasNext: Boolean = j < n || nextBucket()

        override def next(): InternalRow = {
          row.setLong(0, ids(i))
          row.setLong(1, ids(j))
          j += 1
          if (j >= n) { i += 1; j = i + 1 }
          proj(row)
        }
      }
    }
  }

  override protected def withNewChildInternal(
      newChild: SparkPlan): LshSelfJoinExec = copy(child = newChild)
}

/** Public construction surface for the operator. */
object LshSelfJoin {

  /** Candidate pairs (doc_a < doc_b, possibly repeated across bands) from
    * a banded signature table. `idCol` must be integral; `bandCol`/
    * `bhCol` are the bucket key. Apply `.distinct()` for the dedup the
    * compositional join pipeline applied. The session must hold the
    * graft dialect ([[GraftExtensions]]).
    */
  def candidatePairs(banded: DataFrame, idCol: String, bandCol: String,
      bhCol: String): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.Cast
    GraftOptimizations.requireInstalled(banded.sparkSession)
    val p = banded.queryExecution.analyzed
    // resolve with the session's resolver (spark.sql.caseSensitive) and
    // reject ambiguity — a first-match lookup would silently bind the
    // wrong one of two same-named columns
    val resolver = banded.sparkSession.sessionState.analyzer.resolver
    def a(n: String): Attribute =
      p.output.filter(at => resolver(at.name, n)) match {
        case Seq(one) => one
        case Seq() => throw new IllegalArgumentException(s"no column $n")
        case many => throw new IllegalArgumentException(
          s"ambiguous column $n: ${many.map(_.name).mkString(", ")}")
      }
    val idAttr = a(idCol)
    val idExpr: Expression = idAttr.dataType match {
      case LongType => idAttr
      case ByteType | ShortType | IntegerType => Cast(idAttr, LongType)
      case dt => throw new IllegalArgumentException(
        s"LSH self-join id column '$idCol' must be integral, got $dt")
    }
    // the exec's run detection copies retained bucket keys per type
    // (UTF8String.copy, Array[Byte].clone); array/struct/map keys would
    // be retained UNCOPIED into a sort buffer the iterator reuses after
    // a spill — runs would fragment or merge on mutated memory and the
    // operator would silently emit a wrong pair set (round-13 review:
    // the same class the BinaryType copy fixed, refused here for the
    // types the copy does not cover)
    Seq(bandCol, bhCol).foreach { c =>
      a(c).dataType match {
        case _: org.apache.spark.sql.types.ArrayType |
             _: org.apache.spark.sql.types.StructType |
             _: org.apache.spark.sql.types.MapType =>
          throw new IllegalArgumentException(
            s"LSH self-join bucket column '$c' has a nested type " +
            s"(${a(c).dataType}) — hash it to an atomic key first " +
            "(the run detector cannot safely retain nested buffers)")
        case _ => ()
      }
    }
    Dataset.ofRows(banded.sparkSession.asInstanceOf[SparkSession],
      LshSelfJoinPlan(p, idExpr, a(bandCol), a(bhCol),
        AttributeReference("doc_a", LongType, nullable = false)(),
        AttributeReference("doc_b", LongType, nullable = false)()))
  }
}
