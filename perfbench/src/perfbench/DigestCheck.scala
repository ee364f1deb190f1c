package perfbench

import org.apache.spark.sql.functions.col

/** Checks the properties [[Digest]] promises; run by
 * `perfbench/tests/test_digest.py`. Exits 1 naming the first that fails. */
object DigestCheck {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local(2)
    import spark.implicits._
    var failed = false
    def expect(ok: Boolean, what: String): Unit =
      if (!ok) { System.err.println(s"digest check failed: $what"); failed = true }

    val base = Seq((1, "a", 1.5), (2, null, 2.0), (3, "c", 0.25)).toDF("k", "s", "d")
    val d = Digest.of(base)
    expect(d.startsWith("3:"), s"digest $d does not lead with the row count")
    expect(Digest.of(base.repartition(3).orderBy(col("k").desc)) == d, "row order changes it")
    expect(Digest.of(base.select("d", "s", "k")) == d, "column order changes it")
    expect(Digest.of(base.withColumn("k", col("k").cast("long"))) == d, "INT widened to BIGINT changes it")
    expect(Digest.of(base.union(base.limit(1))) != d, "a duplicated row leaves it unchanged")
    expect(Digest.of(base.filter(col("k") < 3)) != d, "a dropped row leaves it unchanged")
    expect(Digest.of(Seq((1, "a"), (2, "b"), (2, "b")).toDF("k", "s")) !=
      Digest.of(Seq((1, "a"), (3, "c"), (3, "c")).toDF("k", "s")), "a pair of equal rows cancels out")
    expect(Digest.of(base.withColumn("d", col("d") + 1e-9)) != d, "a changed value leaves it unchanged")
    expect(Digest.of(Seq[(Integer, Integer)]((1, null)).toDF("a", "b")) !=
      Digest.of(Seq[(Integer, Integer)]((null, 1)).toDF("a", "b")),
      "moving a null to another column leaves it unchanged")
    expect(Digest.of(Seq("").toDF("s")) != Digest.of(Seq[String](null).toDF("s")),
      "an empty string and a null digest alike")
    expect(Digest.of(base.limit(0)) == "0:0:0", "an empty result does not digest to 0:0:0")
    spark.stop()
    if (failed) sys.exit(1)
    println("digest checks passed")
  }
}
