package graft.ops

import org.apache.spark.HashPartitioner
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StructField, StructType}
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** The LSH-blocked k-NN graph as one kernel pass over primitive vectors
  * (the shape of REPOSE, ICDE 2021: a local top-k per partition, then
  * one global merge), behind [[EmbeddingOps.knnGraph]],
  * [[EmbeddingOps.knnGraphAuto]] and the hard-negative miners:
  *
  *   - map ([[Scatter]]): one scan reads each `(vec_id, embedding[,
  *     label])` into a `double[]` (the `array<double>` cast, so
  *     `Float.toDouble`), its norm and its bucket in every table, and
  *     emits one copy of the vector per table, keyed by `(table,
  *     bucket)`;
  *   - shuffle by `(table, bucket)`, then ([[Score]]) every co-bucketed
  *     pair with distinct ids (for hard negatives: with two labels that
  *     differ) is scored once and offered to both ids' bounded heaps
  *     ([[TopK]]), one heap per id and reduce task;
  *   - shuffle the heaps by id, then ([[Merge]]) merge each id's heaps
  *     and emit its entries best-first with their 1-based rank.
  *
  * The arithmetic is the DataFrame chain's (and the SQL twins'): a dot
  * is [[graft.functions.VecFunctions.vecDot]]'s left-to-right fold from
  * 0.0; plane `i` of a table sets bucket bit `1L << i` iff its dot with
  * the vector is `>= 0` under Spark's double comparison (NaN greatest,
  * -0.0 == 0.0); the cosine is `dot(a, b) / (|a| · |b|)` with
  * `|a| = sqrt(dot(a, a))`, and a zero denominator makes it null, or
  * raises `DIVIDE_BY_ZERO` under ANSI mode, as Spark's `/` does; the
  * order is (cosine DESC with nulls last, neighbor id ASC) under
  * Spark's double ordering. A pair meeting in several tables counts
  * once. `vec_id` is a key: every id names one vector.
  *
  * Nothing is cached or persisted: the result is a DataFrame over the
  * kernel's RDD, so the consumer's action runs the scan and both
  * shuffles as one job, its reduce sides on `defaultParallelism` tasks
  * (the auto width first counts the same scan's rows, one more job).
  */
private[ops] object KnnGraph {

  /** The `label` of a vector that has none (labels are ints). */
  private val NoLabel = Long.MinValue

  /** One copy of an input vector: its id, components, norm and label. */
  private final case class Vec(id: Long, v: Array[Double], norm: Double, label: Long)

  /** An LSH bucket of one table. */
  private final case class Cell(table: Int, bucket: Long)

  /** The message of the `IllegalArgumentException` a bad input row
    * raises. */
  private def bad(what: String): String = s"kNN graph input column $what"

  /** Left-to-right dot product `((0.0 + a0·b0) + a1·b1) + …` over
    * `min(len)`, VecDot's fold. */
  private def dot(a: Array[Double], b: Array[Double]): Double = {
    val n = math.min(a.length, b.length)
    var acc = 0.0
    var i = 0
    while (i < n) { acc += a(i) * b(i); i += 1 }
    acc
  }

  /** Map side: each row's vector, read and checked, once per table
    * under its bucket in that table. `planes(t)(i)` is plane i of table
    * t; column 2 of a row is its label when `labelled`. */
  private final class Scatter(planes: Array[Array[Array[Double]]], dim: Int, labelled: Boolean)
      extends (Iterator[InternalRow] => Iterator[(Cell, Vec)]) with Serializable {
    def apply(rows: Iterator[InternalRow]): Iterator[(Cell, Vec)] = rows.flatMap { r =>
      if (r.isNullAt(0)) throw new IllegalArgumentException(bad("vec_id holds a null value"))
      if (r.isNullAt(1)) throw new IllegalArgumentException(bad("embedding holds a null vector"))
      val id = r.getLong(0)
      val arr = r.getArray(1)
      if (arr.numElements != dim) throw new IllegalArgumentException(
        bad(s"embedding holds a vector of length ${arr.numElements} at vec_id $id, not dim $dim"))
      val v = new Array[Double](dim)
      var i = 0
      while (i < dim) {
        val x = if (arr.isNullAt(i)) Double.NaN else arr.getDouble(i)
        if (x.isNaN || x.isInfinite) throw new IllegalArgumentException(
          bad(s"embedding holds a null, NaN or infinite component at vec_id $id"))
        v(i) = x
        i += 1
      }
      val label = if (!labelled || r.isNullAt(2)) NoLabel else r.getInt(2).toLong
      val vec = Vec(id, v, math.sqrt(dot(v, v)), label)
      Iterator.tabulate(planes.length) { t =>
        var bucket = 0L
        var j = 0
        while (j < planes(t).length) {
          if (compareDoubles(dot(v, planes(t)(j)), 0.0) >= 0) bucket += 1L << j
          j += 1
        }
        (Cell(t, bucket), vec)
      }
    }
  }

  /** Reduce side of the bucket shuffle: every co-bucketed pair of the
    * task's cells scored once, both directions offered to the task's
    * per-id heaps; emits each id's heap. */
  private final class Score(k: Int, labelled: Boolean, ansi: Boolean)
      extends (Iterator[(Cell, Vec)] => Iterator[(Long, TopK)]) with Serializable {
    def apply(it: Iterator[(Cell, Vec)]): Iterator[(Long, TopK)] = {
      val cells = mutable.HashMap.empty[Cell, ArrayBuffer[Vec]]
      it.foreach { case (c, v) => cells.getOrElseUpdate(c, new ArrayBuffer[Vec]) += v }
      val heaps = mutable.HashMap.empty[Long, TopK]
      for (vs <- cells.valuesIterator; i <- vs.indices; j <- i + 1 until vs.length) {
        val (a, b) = (vs(i), vs(j))
        if (a.id != b.id && (!labelled ||
            (a.label != NoLabel && b.label != NoLabel && a.label != b.label))) {
          // dot and product commute exactly: (a, b) and (b, a) share one cosine
          val den = a.norm * b.norm
          val isNull = den == 0.0
          if (isNull && ansi) throw org.apache.spark.sql.graft.VecBridge.divideByZero()
          val cos = if (isNull) 0.0 else dot(a.v, b.v) / den
          heaps.getOrElseUpdate(a.id, new TopK(k)).offer(Entry(cos, isNull, b.id, b.label))
          heaps.getOrElseUpdate(b.id, new TopK(k)).offer(Entry(cos, isNull, a.id, a.label))
        }
      }
      heaps.iterator
    }
  }

  /** Reduce side of the id shuffle: each id's heaps merged, emitted
    * best-first as `(vec_id, neighbor, [label,] cosine, rank)`. */
  private final class Merge(labelled: Boolean)
      extends (Iterator[(Long, TopK)] => Iterator[Row]) with Serializable {
    def apply(it: Iterator[(Long, TopK)]): Iterator[Row] = {
      val merged = mutable.HashMap.empty[Long, TopK]
      it.foreach { case (id, h) =>
        merged.get(id).fold(merged(id) = h)(acc => h.kept.foreach(acc.offer))
      }
      merged.iterator.flatMap { case (id, h) =>
        h.kept.iterator.zipWithIndex.map { case (e, r) =>
          val cos = if (e.isNull) null else e.cos
          if (labelled) Row(id, e.id, e.label.toInt, cos, r + 1L) else Row(id, e.id, cos, r + 1L)
        }
      }
    }
  }

  /** One heap entry, a neighbor: its cosine (`isNull` for a null
    * cosine), id and label. */
  private final case class Entry(cos: Double, isNull: Boolean, id: Long, label: Long) {
    /** Strictly before `o` in (cosine DESC, nulls last, id ASC) order. */
    def precedes(o: Entry): Boolean =
      if (isNull != o.isNull) !isNull
      else {
        val c = if (isNull) 0 else compareDoubles(cos, o.cos)
        if (c != 0) c > 0 else id < o.id
      }
  }

  /** The best `k` distinct entries offered, kept best-first. Re-offering
    * a kept entry (a pair met in another table) changes nothing. */
  private final class TopK(k: Int) extends Serializable {
    val kept = new ArrayBuffer[Entry]

    def offer(e: Entry): Unit =
      if (kept.length < k || e.precedes(kept.last)) {
        // the first kept entry `e` precedes; an equal entry (same id,
        // so same cosine) sits just before it
        var lo = 0
        var hi = kept.length
        while (lo < hi) {
          val mid = (lo + hi) >>> 1
          if (e.precedes(kept(mid))) hi = mid else lo = mid + 1
        }
        if (lo == 0 || kept(lo - 1).id != e.id) {
          kept.insert(lo, e)
          if (kept.length > k) kept.remove(k)
        }
      }
  }

  /** Each vector's top-`k` co-bucketed neighbors in `numTables` seeded
    * LSH tables of `numBits` planes ([[EmbeddingOps.hyperplanes]]), or,
    * for `None`, of the data-dependent width ([[EmbeddingOps.autoPlanes]]
    * of the row count, one job over the scan), as `(vec_id, neighbor,
    * cosine, rank)`; or, when `labelled`, each vector's top-`k`
    * co-bucketed vectors of another non-null label as `(vec_id,
    * negative, neg_label, cosine, rank)`.
    * @throws IllegalArgumentException in the consumer's job, for a null
    *         `vec_id` or `embedding`, a vector whose length is not
    *         `dim`, or a null, NaN or infinite component */
  def apply(embs: DataFrame, numBits: Option[Int], numTables: Int, seed: Long, dim: Int,
      k: Int, labelled: Boolean): DataFrame = {
    require(k > 0, "k must be positive")
    val spark = embs.sparkSession
    val cols = Seq(col("vec_id").cast(LongType), col("embedding").cast("array<double>")) ++
      (if (labelled) Seq(col("label").cast(IntegerType)) else Nil)
    val rows = embs.select(cols: _*).queryExecution.toRdd
    val planes = numBits.fold(EmbeddingOps.autoPlanes(rows.count(), dim, numTables, seed))(
      EmbeddingOps.hyperplanes(dim, _, numTables, seed))
    val ansi = spark.conf.get("spark.sql.ansi.enabled").toBoolean
    val width = new HashPartitioner(spark.sparkContext.defaultParallelism)
    val graph = rows
      .mapPartitions(new Scatter(planes.map(_.toArray).toArray, dim, labelled))
      .partitionBy(width)
      .mapPartitions(new Score(k, labelled, ansi))
      .partitionBy(width)
      .mapPartitions(new Merge(labelled))
    val (nbr, label) = if (labelled) ("negative", Seq(StructField("neg_label", IntegerType, false)))
      else ("neighbor", Nil)
    spark.createDataFrame(graph, StructType(
      Seq(StructField("vec_id", LongType, false), StructField(nbr, LongType, false)) ++ label ++
        Seq(StructField("cosine", DoubleType, true), StructField("rank", LongType, false))))
  }
}
