package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** Semantics checks for the round-4 operators, cross-validated against
  * driver-side brute force at sf0.001 (small enough to collect). */
class Round4OpsSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  test("t14: repetition fractions equal brute force over collected docs") {
    val docs = graft.engine.Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val expected = docs.map { case (id, text) =>
      val ws = text.split(" ", -1)
      val dup = (ws.length - ws.distinct.length).toDouble / ws.length
      val bgs = ws.sliding(2).filter(_.length == 2).map(_.mkString(" ")).toSeq
      val top = if (bgs.isEmpty) 0.0
        else bgs.groupBy(identity).values.map(_.size).max.toDouble / bgs.size
      id -> (math.rint(dup * 1e6) / 1e6, math.rint(top * 1e6) / 1e6)
    }.toMap
    val got = SparkEntry.queries("t14_repetition_quality")(spark, dir)
      .collect().map { case Row(id: Long, _, d: Double, t: Double) =>
        id -> (d, t)
      }.toMap
    assert(got.keySet == expected.keySet)
    // Spark/DuckDB round HALF_UP at 6dp; rint is half-even — allow 1 ulp
    got.foreach { case (id, (d, t)) =>
      val (ed, et) = expected(id)
      assert(math.abs(d - ed) <= 1e-6 && math.abs(t - et) <= 1e-6,
        s"doc $id: got ($d, $t) expected ($ed, $et)")
    }
  }

  test("t15: scrub digest equals brute-force java-regex redaction") {
    val emailRe = "[a-z0-9._]+@[a-z0-9.]+"
    val phoneRe = "\\+1-555-[0-9]{4}"
    val docs = graft.engine.Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val expected = docs.map { case (id, text) =>
      val inj = if (id % 5 == 0)
        text + s" contact u$id@example.com or +1-555-" + f"${id % 10000}%04d"
      else text
      val scrub = inj.replaceAll(emailRe, "<EMAIL>").replaceAll(phoneRe, "<PHONE>")
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(scrub.getBytes("UTF-8")).map("%02x".format(_)).mkString
      id -> (if (id % 5 == 0) 1L else 0L, scrub.length.toLong, md)
    }.toMap
    val got = SparkEntry.queries("t15_pii_scrub")(spark, dir)
      .collect().map {
        case Row(id: Long, ne: Long, np: Long, len: Long, dg: String) =>
          assert(ne == expected(id)._1 && np == expected(id)._1,
            s"doc $id: PII counts ($ne, $np) != ${expected(id)._1}")
          id -> (ne, len, dg)
      }.toMap
    assert(got.keySet == expected.keySet)
    assert(got == expected)
  }

  test("v09: quantized cosine stays within quantization error of exact") {
    val exact = graft.engine.Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
      .toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / math.sqrt(a.map(x => x * x).sum) / math.sqrt(b.map(x => x * x).sum)
    }
    val rows = SparkEntry.queries("v09_quantized_topk")(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { case Row(q: Long, _, v: Long, cq: Double) =>
      val ce = cos(exact(q), exact(v))
      assert(math.abs(cq - ce) < 0.05,
        s"pair ($q,$v): quantized $cq vs exact $ce")
    }
  }

  test("g17: wide-matrix mass equals the first-48h slice of the trajectory") {
    val traj = graft.engine.Trajectory
      .complete(graft.engine.Tables.events(spark, dir))
      .select(unix_timestamp(col("hour")).as("es"))
    val Row(es0: Long) = traj.agg(min(col("es"))).head()
    val inWindow = traj.where((col("es") - es0) / 3600 < 48).count()
    val wide = SparkEntry.queries("g17_wide_hour_matrix")(spark, dir)
    val hCols = (0 until 48).map(i => sum(col(s"h$i")))
    val total = wide.agg(hCols.head, hCols.tail: _*).head()
      .toSeq.map(_.asInstanceOf[Long]).sum
    assert(total == inWindow, s"wide mass $total != window rows $inWindow")
  }

  test("st07: transformWithState agrees with mapGroupsWithState exactly") {
    val a = SparkEntry.queries("st06_stateful_counts")(spark, dir)
      .collect().map(_.toSeq).toSet
    val b = SparkEntry.queries("st07_transform_with_state")(spark, dir)
      .collect().map(_.toSeq).toSet
    assert(a == b)
  }

  test("st06: stateful fold equals the batch aggregate") {
    val got = SparkEntry.queries("st06_stateful_counts")(spark, dir)
      .collect().map { case Row(u: Long, n: Long, f: Long, l: Long) =>
        u -> (n, f, l)
      }.toMap
    val expected = graft.engine.Tables.events(spark, dir)
      .select(col("user_id").cast("long").as("u"),
        unix_timestamp(col("ts")).as("es"))
      .groupBy(col("u"))
      .agg(count(lit(1)).as("n"), min(col("es")), max(col("es")))
      .collect().map { case Row(u: Long, n: Long, f: Long, l: Long) =>
        u -> (n, f, l)
      }.toMap
    assert(got == expected)
  }
}
