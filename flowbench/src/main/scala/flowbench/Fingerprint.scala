package flowbench

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Row count plus an order-independent hash over every column. */
final case class Fp(rows: Long, hash: Long) {
  override def toString: String = f"$rows:$hash%016x"
}

object Fingerprint {

  /** Materialize `df` and fingerprint it in the same job.
    *
    * This is how the benchmark consumes a result: every column of every
    * row is produced (as with the `noop` sink). Doubles are rounded to
    * six decimals first, so a sum whose addition order differs between
    * runs still fingerprints the same. The per-row hash is summed modulo
    * 2^64 on the client side, so row order and partitioning do not
    * matter and no SQL overflow check applies. */
  def of(df: DataFrame): Fp = {
    // positional names: results may carry duplicate or dotted names
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val fields = named.schema.fields.toSeq
    val cols = fields.map(f => norm(col(f.name), f.dataType))
    // xxhash64 skips nulls, so also hash which columns are null
    val nulls = array(fields.map(f => col(f.name).isNull): _*)
    sumHashes(named.select(xxhash64(cols :+ nulls: _*)))
  }

  /** Fingerprint of the ledger rows `(doc_id, lang, n_chars)` with the
    * plain `xxhash64(doc_id, lang, n_chars)`, comparable with [[ledgerRow]]. */
  def ledger(df: DataFrame): Fp =
    sumHashes(df.select(xxhash64(col("doc_id"), col("lang"), col("n_chars"))))

  /** Driver-side twin of `xxhash64(doc_id, lang, n_chars)` (seed 42). */
  def ledgerRow(docId: Long, lang: String, nChars: Long): Long = {
    var h = 42L
    h = XxHash64Function.hash(java.lang.Long.valueOf(docId), LongType, h)
    h = XxHash64Function.hash(UTF8String.fromString(lang), StringType, h)
    XxHash64Function.hash(java.lang.Long.valueOf(nChars), LongType, h)
  }

  private def sumHashes(hashes: DataFrame): Fp = {
    val sc = hashes.sparkSession.sparkContext
    val n = sc.longAccumulator("flowbench.rows")
    val h = sc.longAccumulator("flowbench.hash")
    hashes.foreachPartition { (it: Iterator[Row]) =>
      var rows = 0L
      var sum = 0L
      it.foreach { r => rows += 1; sum += r.getLong(0) }
      n.add(rows)
      h.add(sum)
    }
    Fp(n.value, h.value)
  }

  private def norm(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => round(c.cast(DoubleType), 6)
    case st: StructType =>
      struct(st.fields.toSeq.map(f => norm(c.getField(f.name), f.dataType).as(f.name)): _*)
    case at: ArrayType => transform(c, x => norm(x, at.elementType))
    case mt: MapType =>
      val entry = StructType(Seq(StructField("key", mt.keyType),
        StructField("value", mt.valueType)))
      norm(array_sort(map_entries(c)), ArrayType(entry))
    case _ => c
  }
}
