package perfbench

import org.apache.spark.sql.SparkSession

/** The `functions` kernel pass: each native kernel is called by its SQL
  * name after `GraftExtensions.register`, over cached sf0.1 documents
  * and embeddings, into the `noop` sink. Reports input rows per second
  * (median of three timings per kernel). */
object Kernels {
  def run(run: Run, sfDir: String): Map[String, Double] = {
    val spark = run.spark
    graft.GraftExtensions.register(spark)
    val docs = graft.sources.Tables.documents(spark, sfDir).cache()
    docs.createOrReplaceTempView("pb_docs")
    val emb = graft.sources.Tables.embeddings(spark, sfDir).cache()
    emb.createOrReplaceTempView("pb_emb")
    val hashes = spark.sql("SELECT doc_id, token_hash32(text) AS h FROM pb_docs").cache()
    hashes.createOrReplaceTempView("pb_hashes")
    Seq(docs, emb, hashes).foreach(_.count())
    val pairs = spark.sql(
      """SELECT substring(a.text, 1, 48) AS x, substring(b.text, 1, 48) AS y
         FROM pb_docs a JOIN pb_docs b ON a.doc_id < 200 AND b.doc_id < 200""").cache()
    pairs.createOrReplaceTempView("pb_pairs")
    val pairRows = pairs.count().toDouble
    val docRows = docs.count().toDouble
    val embPairs = spark.sql(
      "SELECT a.embedding AS x, b.embedding AS y FROM pb_emb a JOIN pb_emb b ON b.vec_id < 32").cache()
    embPairs.createOrReplaceTempView("pb_emb_pairs")
    val embPairRows = embPairs.count().toDouble
    val cases = Seq(
      ("token_hash32", "SELECT token_hash32(text) FROM pb_docs", docRows),
      ("minhash_sig", "SELECT minhash_sig(h) FROM pb_hashes", docRows),
      ("simhash64", "SELECT simhash64(h) FROM pb_hashes", docRows),
      ("vec_dot", "SELECT vec_dot(x, y) FROM pb_emb_pairs", embPairRows),
      ("jaro_winkler", "SELECT jaro_winkler(x, y) FROM pb_pairs", pairRows),
      ("top_k_by", "SELECT x, top_k_by(CAST(length(y) AS DOUBLE), CAST(hash(y) AS BIGINT), 5) " +
        "FROM pb_pairs GROUP BY x", pairRows))
    val rates = cases.flatMap { case (name, sql, rows) =>
      run.attempted += 1
      val times = run.guarded(s"kernel:$name") {
        run.phase("exec")
        (1 to 3).map { _ =>
          val t0 = System.nanoTime()
          spark.sql(sql).write.format("noop").mode("overwrite").save()
          Stats.secondsSince(t0)
        }
      }
      if (times.isEmpty) run.failed += 1
      times.map(ts => name -> rows / Stats.median(ts))
    }.toMap
    Seq(docs, emb, hashes, pairs, embPairs).foreach(_.unpersist())
    rates
  }
}
