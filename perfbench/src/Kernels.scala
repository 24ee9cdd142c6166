package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Per-row cost of the eight `GraftExtensions` SQL functions. Inputs are
  * seeded samples of `documents` and `embeddings`, replicated to a few
  * tens of thousands of rows and cached in one partition, so one task
  * runs each function over every row and the wall time is one core's. */
object Kernels {
  val fns: Seq[(String, String)] = Seq(
    "float_array_dot" -> "float_array_dot(emb, emb2)",
    "minhash_signature" -> "minhash_signature(hashes, 32)",
    "simhash64" -> "simhash64(hashes)",
    "ngram_hashes" -> "ngram_hashes(hashes, 3)",
    "rolling_fingerprints" -> "rolling_fingerprints(text, 8, 4)",
    "pair_array" -> "pair_array(small)",
    "nfc_normalize" -> "nfc_normalize(text)",
    "zorder2" -> "zorder2(x, y)")

  private val reps = 3

  private def cached(df: DataFrame): (DataFrame, Long) = {
    val c = df.repartition(1).persist(StorageLevel.MEMORY_ONLY)
    (c, c.count())
  }

  private def timeNs(df: DataFrame): Double = {
    val t = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t).toDouble
  }

  def apply(spark: SparkSession, data: String, seed: Long): Map[String, Double] = {
    val (docs, docRows) = cached(spark.read.parquet(s"$data/documents.parquet")
      .withColumn("copy", explode(sequence(lit(0), lit(15))))
      .orderBy(xxhash64(col("doc_id"), col("copy"), lit(seed)))
      .select(col("text"),
        expr("transform(split(text, ' '), t -> xxhash64(t))").as("hashes"),
        expr("slice(transform(split(text, ' '), t -> xxhash64(t)), 1, 12)").as("small"),
        col("doc_id").cast("int").as("x"), col("n_chars").cast("int").as("y")))
    val order = Window.orderBy(xxhash64(col("vec_id"), lit(seed)))
    val (embs, embRows) = cached(spark.read.parquet(s"$data/embeddings.parquet")
      .select(col("embedding").as("emb"), lead(col("embedding"), 1).over(order).as("emb2"))
      .filter(col("emb2").isNotNull)
      .withColumn("copy", explode(sequence(lit(0), lit(39))))
      .drop("copy"))
    val out = fns.map { case (name, e) =>
      val (in, rows) = if (name == "float_array_dot") (embs, embRows) else (docs, docRows)
      val q = in.select(expr(e).as("v"))
      timeNs(q)
      val ts = (1 to reps).map(_ => timeNs(q))
      s"kernels.$name.ns_per_row" -> Harness.median(ts) / rows
    }.toMap
    val scan = Harness.median((0 to reps).map(_ => timeNs(docs.select(col("text")))).drop(1)) / docRows
    docs.unpersist(); embs.unpersist()
    out + ("kernels.scan.ns_per_row" -> scan)
  }
}
