package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** `Dev scale`'s fixture amplifier at sf0.001 ×3: the replicated tables
  * keep the properties the scaled query timings rely on. */
class ScaleSpec extends SparkSpec {
  private val factor = 3
  private lazy val out: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-scale").toString
    Dev.amplify(spark, sf, dir, factor)
    dir
  }
  private def read(dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  test("amplify covers every fixture table: ×factor rows, dims copied as-is") {
    assert((Dev.amplified.map(_._1) ++ Dev.copied).toSet == Tables.names.toSet)
    Dev.amplified.foreach { case (name, _) =>
      assert(read(out, name).count() == factor * read(sf, name).count(), name)
    }
    Dev.copied.foreach { name =>
      val (got, base) = (read(out, name), read(sf, name))
      assert(got.count() == base.count(), name)
      assert(got.exceptAll(base).isEmpty && base.exceptAll(got).isEmpty, name)
    }
  }

  test("a shifted key unique in the base stays unique") {
    val unique = for {
      (name, keys) <- Dev.amplified
      k <- keys
      base = read(sf, name)
      if base.select(k).distinct().count() == base.count()
    } yield (name, k)
    // the fixture's primary keys: without them the check would be vacuous
    assert(Set("o_orderkey", "c_custkey", "doc_id", "vec_id", "event_id")
      .subsetOf(unique.map(_._2).toSet), unique)
    unique.foreach { case (name, k) =>
      val t = read(out, name)
      assert(t.select(k).distinct().count() == t.count(), s"$name.$k")
    }
  }

  test("FK joins match ×factor the base count: the key shifts agree") {
    def joins(dir: String): Seq[Long] = {
      val (l, o, c, e) = (read(dir, "lineitem"), read(dir, "orders"),
        read(dir, "customer"), read(dir, "events"))
      Seq(l.join(o, col("l_orderkey") === col("o_orderkey")).count(),
        o.join(c, col("o_custkey") === col("c_custkey")).count(),
        e.join(o, col("user_id") === col("o_custkey")).count()) // q23's join
    }
    val (base, scaled) = (joins(sf), joins(out))
    assert(base.forall(_ > 0), base)
    assert(scaled == base.map(_ * factor), s"$scaled vs $base")
  }

  test("events.ts keeps its on-disk type") {
    assert(read(out, "events").schema("ts").dataType == read(sf, "events").schema("ts").dataType)
  }

  test("a registered query runs on the amplified dir through Bench.execute") {
    assert(Bench.execute(spark, out, "q01_pricing_summary") >= 0)
  }
}
