package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.Similarity

/** Properties of the scaled-long vector arithmetic (fvec_scaled_dot,
  * fvec_lsh_bucket, ivf_nearest/ivf_probes): determinism under
  * repartitioning, agreement with the decimal reference fold, and md5
  * parity between HashUtils and Spark's own md5 function (the contract the
  * DuckDB oracle relies on). */
class ScaledDotSpec extends SparkSpec {

  private def emb = {
    GraftFunctions.register(spark)
    graft.sources.Tables.load(spark, sfDir, "embeddings")
  }

  test("the full native-function surface resolves in SQL on a fresh session") {
    // a new child session starts with a clean function registry; register()
    // installs the same descriptor list GraftExtensions injects at build
    // time (spark.sql.extensions=graft.plans.GraftExtensions)
    val s2 = spark.newSession()
    GraftFunctions.register(s2)
    val r = s2.sql(
      "SELECT fvec_dot(array(CAST(1.0 AS FLOAT)), array(CAST(2.0 AS FLOAT))) AS d, " +
        "fvec_scaled_dot(array(CAST(1.0 AS FLOAT)), array(CAST(1.0 AS FLOAT)), 8) AS sd, " +
        "fvec_lsh_bucket(array(CAST(1.0 AS FLOAT)), 4, 8) AS b, " +
        "simhash_text('a b') AS sh, " +
        "minhash_text_signature('a b c d', 3, 4) AS mh, " +
        "simhash64(array('a')) AS s64, " +
        "minhash_signature(array('a'), 4) AS ms").head()
    assert(r.getDouble(0) == 2.0 && r.getLong(1) == 256L)
    assert(r.getSeq[Long](4).length == 4)
  }

  test("scaled dot is order-independent: same result under any partitioning") {
    val base = emb.select(col("vec_id"),
      Similarity.scaledDot("embedding", "embedding").as("d"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val reparted = emb.repartition(7).select(col("vec_id"),
      Similarity.scaledDot("embedding", "embedding").as("d"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(base == reparted)
  }

  test("scaled cosine agrees with the decimal-exact reference within 1e-9") {
    val rows = emb.limit(50).select(
      (Similarity.scaledDot("embedding", "embedding").cast("double") /
        (Similarity.scaledNorm("embedding") * Similarity.scaledNorm("embedding"))).as("s"),
      (Similarity.dotExact("embedding", "embedding") /
        (Similarity.normExact("embedding") * Similarity.normExact("embedding"))).as("e"))
      .collect()
    rows.foreach { r =>
      assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-9,
        s"scaled=${r.getDouble(0)} exact=${r.getDouble(1)}")
    }
  }

  test("byte-level text signatures equal the composed array-based expressions") {
    // minhash_text_signature / simhash_text hash shingles/tokens as byte
    // ranges; the array-based originals materialize them as strings —
    // results must be identical on real documents
    val docs = graft.sources.Tables.load(spark, sfDir, "documents").orderBy("doc_id").limit(200)
    val fast = docs.selectExpr("doc_id",
      "minhash_text_signature(text, 3, 32) AS fast",
      "simhash_text(text) AS sh_fast")
      .collect().map(r => r.get(0) -> (r.getSeq[Long](1), r.getLong(2))).toMap
    val composed = composedRows(docs.selectExpr("doc_id",
      "minhash_signature(array_distinct(transform(sequence(0, greatest(size(split(text, ' ')) - 3, 0)), " +
        "i -> concat_ws(' ', slice(split(text, ' '), i + 1, 3)))), 32) AS composed",
      "simhash64(array_distinct(split(text, ' '))) AS sh_composed"))
      .map(r => r.get(0) -> (r.getSeq[Long](1), r.getLong(2))).toMap
    assert(fast.nonEmpty && fast.keySet == composed.keySet)
    fast.foreach { case (id, (mh, sh)) =>
      assert(mh == composed(id)._1, s"minhash mismatch at $id")
      assert(sh == composed(id)._2, s"simhash mismatch at $id")
    }
  }

  test("HashUtils md5 prefixes equal Spark's md5 hex prefixes") {
    // the oracle replays signatures via ('0x'||substr(md5(s),1,8|16)) casts;
    // HashUtils must produce the identical value from the digest bytes
    val df = graft.sources.Tables.load(spark, sfDir, "documents").limit(100)
      .select(col("text"),
        expr("CAST(conv(substr(md5(CAST(text AS BINARY)), 1, 8), 16, 10) AS BIGINT)").as("h32"),
        expr("conv(substr(md5(CAST(text AS BINARY)), 1, 16), 16, 10)").as("h64u"))
    df.collect().foreach { r =>
      val s = org.apache.spark.unsafe.types.UTF8String.fromString(r.getString(0))
      assert(HashUtils.md5Prefix32(s) == r.getLong(1))
      // unsigned decimal string of the first 64 bits == unsigned view of prefix64
      assert(java.lang.Long.toUnsignedString(HashUtils.md5Prefix64(s)) == r.getString(2))
    }
  }

  test("lsh bucket expression matches the composed per-plane sign test") {
    val withBucket = emb.limit(100)
      .select(col("vec_id"), Similarity.lshSignature("embedding").as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // recompute from first principles with the public hyperplane generator
    val planes = (0 until 16).map(j => Similarity.hyperplane(j).map(_.toDouble).toArray)
    val scale = math.pow(2, Similarity.ScaledShift)
    val manual = emb.limit(100).select(col("vec_id"), col("embedding")).collect().map { r =>
      val v = r.getSeq[Float](1)
      val bucket = planes.zipWithIndex.map { case (p, j) =>
        val dot = v.indices.map(i => math.floor(v(i).toDouble * p(i) * scale).toLong).sum
        if (dot > 0) 1L << j else 0L
      }.sum
      r.getLong(0) -> bucket
    }.toMap
    assert(withBucket == manual)
  }

  test("property: fvec_scaled_dot equals the floor-formula for random vectors") {
    import org.scalacheck.{Gen, Prop}
    import org.scalacheck.Test.{check, Parameters}
    val vecGen = Gen.listOfN(64, Gen.chooseNum(-5.0f, 5.0f))
    val scale = java.lang.Math.scalb(1.0, graft.operators.Similarity.ScaledShift)
    val prop = Prop.forAll(vecGen, vecGen) { (a, b) =>
      import spark.implicits._
      val expected = a.zip(b).map { case (x, y) =>
        math.floor(x.toDouble * y.toDouble * scale).toLong
      }.sum
      val got = Seq((a, b)).toDF("a", "b")
        .selectExpr(s"fvec_scaled_dot(a, b, ${graft.operators.Similarity.ScaledShift})")
        .head().getLong(0)
      got == expected
    }
    // few cases: each runs a Spark job; the formula is the contract
    val res = check(Parameters.default.withMinSuccessfulTests(10), prop)
    assert(res.passed, res.status.toString)
  }

  test("ivf probes return nProbe distinct clusters led by the assignment") {
    val e = emb
    val centroids = graft.operators.Ivf.pickCentroids(e, "vec_id", "embedding", 8)
      .map(_._2.toArray)
    val rows = e.limit(20)
      .select(col("vec_id"),
        GraftFunctions.ivfNearest(col("embedding"), centroids, Similarity.ScaledShift).as("near"),
        GraftFunctions.ivfProbes(col("embedding"), centroids, 3, Similarity.ScaledShift).as("probes"))
      .collect()
    rows.foreach { r =>
      val probes = r.getSeq[Int](2)
      assert(probes.length == 3 && probes.distinct.length == 3)
      // the nearest cluster must be the first probe
      assert(probes.head == r.getInt(1))
    }
  }

  test("two IVF centroid sets compose in one query — no session-global state") {
    // column-built expressions carry their own centroids: the same select
    // can assign against two different sets without any registry overwrite
    val centsA = graft.operators.Ivf.pickCentroids(emb, "vec_id", "embedding", 8).map(_._2.toArray)
    val centsB = centsA.take(2) // a deliberately different (coarser) set
    val rows = emb.limit(50)
      .select(col("vec_id"),
        GraftFunctions.ivfNearest(col("embedding"), centsA, Similarity.ScaledShift).as("a"),
        GraftFunctions.ivfNearest(col("embedding"), centsB, Similarity.ScaledShift).as("b"))
      .collect()
    assert(rows.forall(r => r.getInt(1) >= 0 && r.getInt(1) < 8))
    assert(rows.forall(r => r.getInt(2) >= 0 && r.getInt(2) < 2))
    // sets genuinely differ: some vector must land in a cluster ≥ 2 under A
    assert(rows.exists(_.getInt(1) >= 2))
  }
}
