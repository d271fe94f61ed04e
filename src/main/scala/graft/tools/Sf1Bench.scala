package graft.tools

import org.apache.spark.sql.functions._

/** sf1 bench point: generate a TRUE sf1 corpus — 10× sf0.1 rows of NEW
  * synthetic data drawn from the measured sf0.1 distributions — and time
  * the heaviest queries on it. This is deliberately NOT the ScaleProbe
  * replica corpus: replicas make every copy a near-dup of its original,
  * which inflates the dedup family's true output; here near-dup/exact-dup
  * structure is planted at the bootstrap's own rate, so sf0.1 → sf1 is a
  * clean 10× data-volume step and the recorded times anchor the scaling
  * curves the probe only sketches (BASELINE.md sf1 table).
  *
  * Generation (deterministic, splitmix64-keyed — no RNG state):
  *  - documents (50k): token count sampled from the empirical sf0.1
  *    length distribution; tokens drawn from the measured unigram
  *    frequencies (inverse-CDF), so stopword rates and vocabulary skew —
  *    what the quality filters and shingle/trigram relations see — match
  *    the driver corpus. 2% of docs are one-token-perturbed near-dups of
  *    their predecessor, 1% exact dups (≈ the sf0.1 corpus's planted
  *    rates as recovered by q31/q33).
  *  - embeddings (20k): per-label mean and per-dim spread measured from
  *    sf0.1; new vectors are mean + uniform jitter at the measured
  *    scale, labels in the measured proportions.
  *  - relational + events tables (round 9, for the FULL-catalog sf1
  *    point): region/nation copy verbatim (scale-free dimensions, as in
  *    TPC-H); customer/supplier/part/orders/lineitem/events replicate
  *    10× with consistent key offsets (o_custkey follows c_custkey,
  *    l_orderkey/l_partkey/l_suppkey follow their parents, user_id
  *    offsets keep per-user event densities constant) — for joins and
  *    aggregations a key-offset replica IS a clean 10× volume step (the
  *    near-dup inflation concern above is text-specific).
  *
  * Timing: the WHOLE catalog, Bench methodology (sf0.001 catalog warmup,
  * best-of-2, cold caches per run) → one [sf1] JSON line with total +
  * per-query seconds (BASELINE.md sf1 table).
  *
  * Usage: runMain graft.tools.Sf1Bench [baseSfDir] [outDir]
  */
object Sf1Bench extends Serializable { // generator closures call the (stateless) module's hash helpers
  import Splitmix.{mix, u01}

  val Heavies = Seq("q44_corpus_filter", "q50_semantic_dedup", "q46_neardup_components",
    "q64_pq_adc", "q71_ivfpq_search", "q68_embed_outliers")

  def main(args: Array[String]): Unit = {
    val base = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = if (args.length > 1) args(1) else "/tmp/graft_sf1"
    val spark = graft.Harness.session()
    import spark.implicits._
    spark.range(1000000).selectExpr("sum(id)").collect()

    val marker = new java.io.File(s"$out/_GENERATED")
    if (!marker.exists()) {
      // ---- measure sf0.1 ----
      val docs = graft.Tables.documents(spark, base)
      val nDocs = docs.count()
      val lengths = docs.select(size(split(col("text"), " "))).as[Int].collect()
      val freqs = docs.select(explode(split(col("text"), " ")).as("tok"))
        .groupBy("tok").count().orderBy(col("tok")).as[(String, Long)].collect()
      val totTok = freqs.map(_._2).sum.toDouble
      val cdf = freqs.scanLeft(("", 0.0)) { case ((_, acc), (t, c)) => (t, acc + c / totTok) }.tail
      val langs = docs.groupBy("lang").count().orderBy("lang").as[(String, Long)].collect()
      val langCdf = langs.scanLeft(("", 0.0)) { case ((_, acc), (l, c)) => (l, acc + c / nDocs.toDouble) }.tail
      val embs = graft.Tables.embeddings(spark, base)
      val nEmb = embs.count()
      val dim = embs.select(size(col("embedding"))).head.getInt(0)
      val labStats = embs
        .select(col("label"), posexplode(col("embedding")).as(Seq("p", "v")))
        .groupBy("label", "p").agg(avg("v").as("mu"), stddev_pop("v").as("sd"))
        .collect().map(r => (r.getInt(0), r.getInt(1)) -> ((r.getDouble(2), r.getDouble(3)))).toMap
      val labCdf = embs.groupBy("label").count().orderBy("label").as[(Int, Long)].collect()
        .scanLeft((0, 0.0)) { case ((_, acc), (l, c)) => (l, acc + c / nEmb.toDouble) }.tail

      def pick[T](cdfArr: Array[(T, Double)], u: Double): T = {
        var i = 0
        while (i < cdfArr.length - 1 && cdfArr(i)._2 <= u) i += 1
        cdfArr(i)._1
      }
      val cdfA = cdf.toArray; val langA = langCdf.toArray; val labA = labCdf.toArray
      val lensA = lengths

      // ---- generate 10× ----
      val nOut = nDocs * 10
      def genText(id: Long): String = {
        val L = lensA(math.min((u01(id * 7919L) * lensA.length).toInt, lensA.length - 1))
        val sb = new StringBuilder
        var j = 0
        while (j < L) {
          if (j > 0) sb.append(' ')
          sb.append(pick(cdfA, u01(id * 104729L + j)))
          j += 1
        }
        sb.toString
      }
      val docOut = spark.range(nOut).map { id =>
        val text =
          if (id % 97 == 3 && id >= 2) genText(id - 2)            // ~1% exact dup
          else if (id % 50 == 1 && id >= 1) {                      // ~2% near-dup
            val t = genText(id - 1).split(" ")
            t(t.length / 2) = "ndmark" + (id % 9)
            t.mkString(" ")
          } else genText(id)
        val src = s"src${(mix(id * 13L + 5) >>> 33) % 20}"
        (id, text, pick(langA, u01(id * 31L + 11)), src, text.length.toLong)
      }.toDF("doc_id", "text", "lang", "source", "n_chars")
      docOut.repartition(graft.Harness.cpus.toInt).write.mode("overwrite").parquet(s"$out/documents.parquet")

      val embOut = spark.range(nEmb * 10).map { id =>
        val lab = pick(labA, u01(id * 523L + 1))
        val v = new Array[Float](dim)
        var p = 0
        while (p < dim) {
          val (mu, sd) = labStats((lab, p))
          v(p) = (mu + (u01(id * 8191L + p) * 2.0 - 1.0) * 1.7 * sd).toFloat
          p += 1
        }
        (id, v.toSeq, lab)
      }.toDF("vec_id", "embedding", "label")
      embOut.repartition(graft.Harness.cpus.toInt).write.mode("overwrite").parquet(s"$out/embeddings.parquet")
      marker.getParentFile.mkdirs()
      java.nio.file.Files.write(marker.toPath, Array.emptyByteArray)
    }

    val relMarker = new java.io.File(s"$out/_GENERATED_REL")
    if (!relMarker.exists()) {
      val K = 10
      // scale-free dimensions: copy verbatim
      Seq("region", "nation").foreach { t =>
        spark.read.parquet(s"$base/$t.parquet")
          .write.mode("overwrite").parquet(s"$out/$t.parquet")
      }
      def maxOf(df: org.apache.spark.sql.DataFrame, c: String): Long =
        df.agg(max(col(c)).cast("long")).head.getLong(0) + 1
      val cust = spark.read.parquet(s"$base/customer.parquet")
      val supp = spark.read.parquet(s"$base/supplier.parquet")
      val prt  = spark.read.parquet(s"$base/part.parquet")
      val ord  = spark.read.parquet(s"$base/orders.parquet")
      val li   = spark.read.parquet(s"$base/lineitem.parquet")
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val evs  = spark.read.parquet(s"$base/events.parquet")
      val (mC, mS, mP, mO) = (maxOf(cust, "c_custkey"), maxOf(supp, "s_suppkey"),
        maxOf(prt, "p_partkey"), maxOf(ord, "o_orderkey"))
      val (mE, mU) = (maxOf(evs, "event_id"), maxOf(evs, "user_id"))
      def rep(df: org.apache.spark.sql.DataFrame, offsets: Map[String, Long]) =
        (0 until K).map { i =>
          df.select(df.columns.map(c => offsets.get(c)
            .map(m => (col(c) + lit(i * m)).as(c)).getOrElse(col(c))): _*)
        }.reduce(_ unionByName _)
      rep(cust, Map("c_custkey" -> mC))
        .write.mode("overwrite").parquet(s"$out/customer.parquet")
      rep(supp, Map("s_suppkey" -> mS))
        .write.mode("overwrite").parquet(s"$out/supplier.parquet")
      rep(prt, Map("p_partkey" -> mP))
        .write.mode("overwrite").parquet(s"$out/part.parquet")
      rep(ord, Map("o_orderkey" -> mO, "o_custkey" -> mC))
        .write.mode("overwrite").parquet(s"$out/orders.parquet")
      rep(li, Map("l_orderkey" -> mO, "l_partkey" -> mP, "l_suppkey" -> mS))
        .write.mode("overwrite").parquet(s"$out/lineitem.parquet")
      rep(evs, Map("event_id" -> mE, "user_id" -> mU))
        .write.mode("overwrite").parquet(s"$out/events.parquet")
      java.nio.file.Files.write(relMarker.toPath, Array.emptyByteArray)
    }

    // ---- time the FULL catalog (Bench methodology: catalog warmup at
    // sf0.001, then best-of-2 with cold caches per run) ----
    val warmDir = new java.io.File(new java.io.File(base).getParentFile, "sf0.001")
    if (warmDir.isDirectory) {
      graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (_, fn) =>
        try graft.Harness.noopSeconds(spark)(fn(spark, warmDir.getAbsolutePath))
        catch { case _: Throwable => () }
      }
    }
    val times = graft.SparkEntry.queries.toSeq.sortBy(_._1).map { case (q, fn) =>
      val ts = (1 to 2).map { _ =>
        try graft.Harness.noopSeconds(spark)(fn(spark, out))
        catch { case e: Throwable =>
          System.err.println(s"[sf1] $q failed: ${e.getMessage}")
          -1.0
        }
      }
      q -> (if (ts.contains(-1.0)) -1.0 else ts.min)
    }
    val total = times.map(_._2).filter(_ >= 0).sum
    val failed = times.count(_._2 < 0)
    val qs = times.map { case (q, t) => s""""$q":${math.round(t * 1000) / 1000.0}""" }.mkString(",")
    println(s"""[sf1] {"dir":"$out","total":${math.round(total * 10) / 10.0},"failed":$failed,$qs}""")
    spark.stop()
  }
}
