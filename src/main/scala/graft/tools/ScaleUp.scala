package graft.tools

import org.apache.spark.sql.functions._

/** Synthesize a larger benchmark fixture from an existing sf dir by
  * re-keyed duplication — the second-scale point SCALING.md's slope
  * table measures against (dev tool, not part of the driver
  * contract).
  *
  * usage: runMain graft.tools.ScaleUp <srcDir> <dstDir> <copies>
  *
  * Construction (deliberate, to keep the scaled workload's SHAPE
  * honest rather than quadratic-by-fixture):
  *   - documents: doc_id shifted per copy; copies get one distinct
  *     prepended token, so a copy is a LEGITIMATE near-dup of its
  *     original (J ~ 0.94-0.97) instead of an exact twin — pair
  *     output and candidate work grow linearly with copies, the way
  *     a genuinely larger crawl's would, not as the |bucket|² blowup
  *     that byte-identical duplicate farms would manufacture.
  *   - embeddings: vec_id shifted per copy; each copy's vector is
  *     CIRCULARLY ROTATED by the copy index — norms preserved,
  *     direction decorrelated, so copies behave like fresh random
  *     vectors (3x corpus == 3x fresh corpus for LSH/IVF bucketing)
  *     rather than stacking identical vectors into the same buckets.
  *   - lineitem/orders: the shared orderkey domain is shifted per
  *     copy (join keys stay consistent); dimension-style columns are
  *     left alone — facts grow, dims don't, like real warehouses.
  *   - events: event_id shifted per copy, every other column kept —
  *     more events per (type, user, time) key, the way real traffic
  *     grows, so per-key statistics see genuinely scaled data.
  *   - every other table (dims): byte-copied unchanged.
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: ScaleUp <srcDir> <dstDir> <copies>")
    val Array(src, dst, copiesS) = args.take(3)
    val copies = copiesS.toInt
    require(copies >= 1, s"copies must be >= 1, got $copies")
    val spark = graft.SparkEntry.localSession()
    new java.io.File(dst).mkdirs()

    def shifted(df: org.apache.spark.sql.DataFrame,
                build: (org.apache.spark.sql.DataFrame, Int) => org.apache.spark.sql.DataFrame) =
      (0 until copies).map(c => build(df, c)).reduce(_ unionByName _)

    // a fixture dir need not carry every table (the byte-copy dim
    // path below always skipped absentees) — each fact block guards
    // on existence, and an EMPTY table's null max degrades to shift 0
    // (copies of empty are empty; no NPE from getLong on null)
    def has(t: String) = new java.io.File(s"$src/$t.parquet").exists()
    def maxId(df: org.apache.spark.sql.DataFrame, c: String): Long = {
      val r = df.agg(max(c)).first()
      if (r.isNullAt(0)) -1L else r.getLong(0)
    }

    // documents: distinct-token near-dup copies
    if (has("documents")) {
      val docs = spark.read.parquet(s"$src/documents.parquet")
      val docShift = maxId(docs, "doc_id") + 1
      shifted(docs, (d, c) =>
        if (c == 0) d
        else d.select(
          (col("doc_id") + c * docShift).as("doc_id"),
          concat(lit(s"copym$c "), col("text")).as("text"),
          col("lang"), col("source"), col("n_chars")))
        .write.mode("overwrite").parquet(s"$dst/documents.parquet")
    }

    // embeddings: rotated-direction copies
    if (has("embeddings")) {
      val emb = spark.read.parquet(s"$src/embeddings.parquet")
      val vecShift = maxId(emb, "vec_id") + 1
      val rotate = udf((v: scala.collection.Seq[Float], by: Int) => {
        val n = v.length
        if (n == 0) v else Seq.tabulate(n)(i => v((i + by) % n))
      })
      shifted(emb, (d, c) =>
        if (c == 0) d
        else d.select(
          (col("vec_id") + c * vecShift).as("vec_id"),
          rotate(col("embedding"), lit(c)).cast("array<float>").as("embedding"),
          col("label")))
        .write.mode("overwrite").parquet(s"$dst/embeddings.parquet")
    }

    // lineitem + orders: consistent orderkey-domain shift (lineitem
    // rides only with orders present — its shift IS the orders key
    // domain; an orphan lineitem is skipped like any absent table)
    if (has("orders")) {
      val orders = spark.read.parquet(s"$src/orders.parquet")
      val okShift = maxId(orders, "o_orderkey") + 1
      shifted(orders, (d, c) =>
        d.withColumn("o_orderkey", col("o_orderkey") + c * okShift))
        .write.mode("overwrite").parquet(s"$dst/orders.parquet")
      if (has("lineitem")) {
        val li = spark.read.parquet(s"$src/lineitem.parquet")
        shifted(li, (d, c) =>
          d.withColumn("l_orderkey", col("l_orderkey") + c * okShift))
          .write.mode("overwrite").parquet(s"$dst/lineitem.parquet")
      }
    }

    // events: id-shifted copies — event_type/user/ts domains stay
    // fixed (like real traffic growth: more events per key, not new
    // keys), so per-key statistics (q225 bootstrap, funnels, windows)
    // see genuinely 3x data. Read through Catalog.events so both ts
    // encodings the driver has shipped normalize identically.
    if (has("events")) {
      val ev = graft.queries.Catalog.events(spark, src)
      val evShift = maxId(ev, "event_id") + 1
      shifted(ev, (d, c) =>
        d.withColumn("event_id", col("event_id") + c * evShift))
        .write.mode("overwrite").parquet(s"$dst/events.parquet")
    }

    // everything else rides along unchanged (dims)
    for (t <- Seq("region", "nation", "customer", "supplier", "part")) {
      val from = new java.io.File(s"$src/$t.parquet")
      if (from.exists())
        org.apache.commons.io.FileUtils.copyFile(
          from, new java.io.File(s"$dst/$t.parquet"))
    }
    println(s"scaled $src x$copies -> $dst")
    spark.stop()
  }
}
