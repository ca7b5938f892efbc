package graft

import graft.operators.{ScaleOps, TextPrep}
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Invariants of the ScaleOps module beyond the DuckDB hash gate:
  * chunk tiling exactly covers every document, the blocked fuzzy join
  * finds the same pairs as an unblocked cross-join, the bloom pre-prune
  * is a superset that the closing semi-join reduces to the exact result,
  * and EWMA stays inside the running min/max envelope. */
class ScaleOpsSpec extends SparkSpec {

  test("chunks tile each document: full coverage, correct overlap, exact count") {
    val chunks = ScaleOps.qChunk(spark, sfDir).cache()
    val perDoc = chunks.groupBy("doc_id")
      .agg(max(col("chunk_start") + col("chunk_len")).as("covered"),
        max("n_tokens").as("n"),
        count(lit(1)).as("n_chunks"),
        max("chunk_id").as("last_id"))
    // the last chunk reaches exactly the end of the token stream
    assert(perDoc.filter(col("covered") =!= col("n")).count() === 0)
    // chunk_id is dense 0..n_chunks-1
    assert(perDoc.filter(col("last_id") =!= col("n_chunks") - 1).count() === 0)
    // expected chunk count: floor((n-1)/stride)+1
    assert(perDoc.filter(col("n_chunks") =!=
      floor((col("n") - 1) / 48).cast("int") + 1).count() === 0)
    // every chunk is 1..64 tokens and starts on a stride boundary
    assert(chunks.filter(col("chunk_len") < 1 || col("chunk_len") > 64 ||
      col("chunk_start") % 48 =!= 0).count() === 0)
  }

  test("blocked fuzzy-vocab join equals the unblocked cross-join") {
    val blocked = ScaleOps.qFuzzyVocab(spark, sfDir)
      .select("tok_a", "tok_b").collect().map(r => (r.getString(0), r.getString(1))).toSet
    val vocab = TextPrep.rawDocs(spark, sfDir)
      .select(explode(col("rtoks")).as("tok")).distinct()
      .filter(length(col("tok")) >= 3)
    val brute = vocab.select(col("tok").as("a"))
      .crossJoin(vocab.select(col("tok").as("b")))
      .filter(col("a") < col("b") && levenshtein(col("a"), col("b")) <= 2)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(blocked === brute)
  }

  test("bloom pre-prune is a superset; closing semi-join makes it exact") {
    val orderKeys = Tables.orders(spark, sfDir).select(col("o_custkey"))
    val bloom = orderKeys.select(xxhash64(col("o_custkey")).as("h"))
      .stat.bloomFilter("h", 1L << 16, 0.01)
    val bos = new java.io.ByteArrayOutputStream(); bloom.writeTo(bos)
    val cust = Tables.customer(spark, sfDir)
    val pruned = cust.filter(ScaleOps.bloomMightContain(bos.toByteArray, col("c_custkey")))
    val exact = cust.join(orderKeys, col("c_custkey") === col("o_custkey"), "left_semi")
    // no false negatives: every true match survives the bloom
    assert(exact.join(pruned.select(col("c_custkey").as("p_key")),
      col("c_custkey") === col("p_key"), "left_anti").count() === 0)
    // end-to-end result is exactly the semi-join
    val got = ScaleOps.qBloomSemi(spark, sfDir).select("c_custkey")
      .collect().map(_.getLong(0)).toSet
    val want = exact.select("c_custkey").collect().map(_.getLong(0)).toSet
    assert(got === want)
  }

  test("heavy hitters: CMS bounds hold and ranking is by exact count") {
    val rows = ScaleOps.qHeavyHitters(spark, sfDir).collect()
    assert(rows.length === 20)
    rows.foreach { r => assert(r.getBoolean(2) && r.getBoolean(3)) }
    val counts = rows.map(_.getLong(1))
    assert(counts.sameElements(counts.sortBy(-_)))
  }

  test("z-order locality: neighbors in key order are neighbors in both dims") {
    import org.apache.spark.sql.expressions.Window
    val z = ScaleOps.qZorder(spark, sfDir)
    def meanStep(orderCol: String): Double = {
      val w = Window.orderBy(col(orderCol).asc, col("o_orderkey").asc)
      z.select(col("xb"), col("yb"),
          lag("xb", 1).over(w).as("px"), lag("yb", 1).over(w).as("py"))
        .filter(col("px").isNotNull)
        .agg(avg(abs(col("xb") - col("px")) + abs(col("yb") - col("py"))))
        .head().getDouble(0)
    }
    val zStep = meanStep("zkey")
    val keyStep = meanStep("o_orderkey") // orderkey order ≈ random in (xb, yb)
    assert(zStep < keyStep / 2, s"zStep=$zStep keyStep=$keyStep")
    // interleave round-trips: de-interleaving the key recovers both dims
    val bad = z.filter(
      (0 until 10).map(i => (shiftright(col("zkey"), 2 * i).bitwiseAND(1) * (1 << i)).cast("int"))
        .reduce(_ + _) =!= col("xb")).count()
    assert(bad === 0)
  }

  test("sequence packing: distributed prefix sum matches the window form, sequences are full") {
    import org.apache.spark.sql.expressions.Window
    val p = ScaleOps.qPack(spark, sfDir).cache()
    // cum_before law vs the single-partition window (fine at test scale)
    val w = Window.orderBy(col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val viaWindow = p.select(col("doc_id"), col("n_tokens"))
      .withColumn("cb", coalesce(sum("n_tokens").over(w), lit(0L)))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    p.collect().foreach(r => assert(r.getLong(2) === viaWindow(r.getLong(0))))
    // every doc's span is consistent: offset + tokens crosses into end_seq
    assert(p.filter(col("end_seq") =!=
      floor((col("cum_before") + col("n_tokens") - 1) / 256).cast("long")).count() === 0)
    // total tokens = last doc's cum_before + n_tokens
    val total = p.agg(max(col("cum_before") + col("n_tokens"))).head().getLong(0)
    assert(total === p.agg(sum("n_tokens")).head().getLong(0))
  }

  test("table diff flags exactly the buckets containing dropped rows") {
    val diff = ScaleOps.qTableDiff(spark, sfDir).collect()
      .map(r => r.getInt(0) -> r.getBoolean(3)).toMap
    val dirty = Tables.orders(spark, sfDir)
      .filter(col("o_orderpriority") === "5-LOW")
      .select((col("o_orderkey") % 64).cast("int")).distinct()
      .collect().map(_.getInt(0)).toSet
    assert(diff.size === 64)
    diff.foreach { case (b, ok) => assert(ok === !dirty.contains(b), s"bucket $b") }
  }

  test("local and distributed pagerank paths agree (keywords hybrid)") {
    import graft.operators.Dedup
    val edges = Seq(("a", "b"), ("b", "c"), ("a", "c"), ("c", "d"))
    val local = Dedup.pageRankLocal(edges).toMap
    import spark.implicits._
    val dist = Dedup.pageRankDistributed(edges.toDF("a", "b")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(local.keySet === dist.keySet)
    local.foreach { case (k, v) => assert(math.abs(v - dist(k)) < 1e-12, k) }
    // rank mass is conserved (power method invariant)
    assert(math.abs(local.values.sum - 1.0) < 1e-9)
  }

  test("ewma stays inside the running value envelope, starts at the value") {
    val e = ScaleOps.qEwma(spark, sfDir).cache()
    val first = e.filter(col("rn") === 1)
      .join(Tables.events(spark, sfDir).select("event_id", "value"), "event_id")
      .filter(abs(col("ewma") - round(col("value"), 6)) > 1e-9)
    assert(first.count() === 0)
    // weights are positive and sum to 1 → ewma within global [min,max]
    val mm = Tables.events(spark, sfDir).agg(min("value"), max("value")).head()
    assert(e.filter(col("ewma") < mm.getDouble(0) - 1e-6 ||
      col("ewma") > mm.getDouble(1) + 1e-6).count() === 0)
  }
}
