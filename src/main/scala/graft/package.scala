/** graft — a Spark-native analytics engine with the query and
  * data-processing capabilities of the reference gateway
  * (`/root/reference/src/gateway.ts`, surveyed in SURVEY.md), plus a full
  * relational surface and LLM-data-pipeline operators.
  */
package object graft {

  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions._
  import org.apache.spark.sql.types.DecimalType

  /** Exact money sum, oracle-parity safe.
    *
    * Summing doubles is order-dependent, and Spark and the DuckDB oracle
    * need not accumulate partitions in the same order — a raw
    * `sum(double)` can hash-mismatch in the last ulp. Casting each value to
    * DECIMAL(18,2) first makes the sum exact (inputs are 2-decimal money
    * values), and the final exact-decimal → double conversion is
    * deterministic in both engines. Oracle-side equivalent:
    * `CAST(SUM(CAST(x AS DECIMAL(18,2))) AS DOUBLE)`.
    */
  def dsum(c: Column, scale: Int = 2): Column =
    sum(c.cast(DecimalType(18, scale))).cast("double")

  /** Money value as DECIMAL(18,2), for exact arithmetic in both engines. */
  private[graft] def dec(c: Column): Column = c.cast(DecimalType(18, 2))

  /** Exact decimal average → double. Oracle:
    * `CAST(SUM(CAST(x AS DECIMAL(18,s))) AS DOUBLE) / COUNT(x)`. */
  def davg(c: Column, scale: Int = 2): Column =
    sum(c.cast(DecimalType(18, scale))).cast("double") / count(c)

  /** Run INDEPENDENT driver work concurrently (the first thunk on the
    * calling thread, the rest on one pool thread each) and return the
    * results in input order (guide §2.6: Spark's scheduler happily runs
    * several jobs at once inside one application — actions are only
    * sequential because driver code calls them sequentially; FIFO
    * scheduling back-fills one pipeline's straggler tail with the
    * other's tasks). Only for thunks whose Spark work is independent —
    * driver actions and model-training collects are thread-safe; shared
    * caches fill once (the block manager serializes per-partition
    * computation). Exceptions from any thunk propagate. */
  def awaitAll[T](fs: Seq[() => T]): Seq[T] =
    if (fs.sizeIs <= 1) fs.map(_())
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(fs.size - 1)
      try {
        val futs = fs.tail.map(f => pool.submit(new java.util.concurrent.Callable[T] {
          override def call(): T = f()
        }))
        val head = fs.head()
        head +: futs.map(_.get())
      } finally pool.shutdown()
    }
}
