package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Scale-replica generator: expand a driver-generated testdata
  * directory by an integer factor with JOIN-CONSISTENT key remapping
  * (`key' = key·f + k` for replica k, so every foreign key lands on
  * its own replica's parent) — the cheapest faithful way to get an
  * sf1-shaped dataset when the upstream generator is not available.
  * Dimensions (region, nation) are shared, fact/entity tables
  * replicate.
  *
  * Replicated text is DECORRELATED by a seeded deterministic SHUFFLE
  * of the word sequence per replica — each word sorts by
  * xxhash64(word, position, k) (length, vocabulary, and token
  * statistics preserved; a random permutation keeps any given
  * adjacent pair adjacent with probability ~2/n, so the word-shingle
  * set is almost entirely new and replicas do not form artificial
  * exact/near-duplicate cliques that would quadratically distort
  * pair-generating operators relative to organically grown data — a
  * single-cut ROTATION does NOT achieve this: it preserves nearly
  * every shingle). Embeddings rotate their component order per
  * replica with a never-zero offset (norm preserved, cosine
  * decorrelated, no verbatim copies).
  *
  * Usage: runMain graft.GenSf <srcDir> <outDir> <factor>
  */
object GenSf {
  def main(args: Array[String]): Unit = {
    val Array(src, out, fStr) = args
    val f = fStr.toInt
    require(f >= 2, s"factor must be >= 2, got $f")
    val spark = GraftSession(32, 32)

    def t(n: String) = spark.read.parquet(s"$src/$n.parquet")
    // driver layout parity: each table is ONE parquet FILE named
    // <table>.parquet (several streamed gates stage the table by
    // file-copying that path — a directory there is a different,
    // unfaithful layout)
    def write(df: DataFrame, n: String): Unit = {
      val stage = s"$out/__stage_$n"
      df.coalesce(1).write.mode("overwrite").parquet(stage)
      val stageDir = java.nio.file.Paths.get(stage)
      val part = {
        val walk = java.nio.file.Files.list(stageDir)
        try walk.filter(_.getFileName.toString.endsWith(".parquet"))
          .findFirst().get()
        finally walk.close()
      }
      val target = java.nio.file.Paths.get(s"$out/$n.parquet")
      java.nio.file.Files.deleteIfExists(target)
      java.nio.file.Files.move(part, target)
      val walk2 = java.nio.file.Files.walk(stageDir)
      try walk2.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.delete(p))
      finally walk2.close()
      println(s"[gensf] $n: ${spark.read.parquet(target.toString).count()} rows")
    }
    def reps(df: DataFrame)(fn: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until f).map(k => fn(df, k)).reduce(_ unionByName _)
    def remap(df: DataFrame, k: Int, keys: String*): DataFrame =
      keys.foldLeft(df)((d, c) => d.withColumn(c, col(c) * f + k))

    // shared dimensions
    write(t("region"), "region")
    write(t("nation"), "nation")

    // star schema: every key remapped with the same (·f + k) map, so
    // replica joins are internally consistent and selectivities match
    // the source scale
    // replica names get a distinct suffix (k = 0 verbatim): exact-
    // duplicate names across replicas would multiply every name
    // posting list ×f and quadratically distort edit-distance /
    // blocking operators relative to organically grown data (suffixes
    // ≥ 4 edits apart keep depth-2 deletion variants disjoint)
    write(reps(t("customer")) { (d, k) =>
      val mapped = remap(d, k, "c_custkey")
      if (k == 0) mapped
      else mapped.withColumn("c_name",
        concat(col("c_name"), lit(s"-rep$k")))
    }, "customer")
    write(reps(t("supplier"))(remap(_, _, "s_suppkey")), "supplier")
    write(reps(t("part"))(remap(_, _, "p_partkey")), "part")
    write(reps(t("orders"))(remap(_, _, "o_orderkey", "o_custkey")), "orders")
    write(reps(t("lineitem"))(
      remap(_, _, "l_orderkey", "l_partkey", "l_suppkey")), "lineitem")
    write(reps(t("events"))(remap(_, _, "event_id", "user_id")), "events")

    // documents: seeded deterministic word shuffle per replica (k = 0
    // stays verbatim) — sort words by xxhash64(word, position, k),
    // position as tiebreaker so repeated words order deterministically;
    // n_chars re-derived for shuffled rows (the multiset of words and
    // separators is preserved, so this is a fixed point in practice)
    write(reps(t("documents")) { (d, k) =>
      val mapped = remap(d, k, "doc_id")
      if (k == 0) mapped
      else {
        val words = split(col("text"), " ")
        val shuffled = when(col("text").isNull, lit(null).cast("string"))
          .when(size(words) <= 1, col("text"))
          .otherwise(array_join(
            transform(
              array_sort(transform(words, (w, i) =>
                struct(xxhash64(w, i, lit(k)).as("h"), i.as("i"),
                  w.as("w")))),
              x => x.getField("w")),
            " "))
        mapped.withColumn("text", shuffled)
          .withColumn("n_chars",
            coalesce(length(col("text")), lit(0)).cast(d.schema("n_chars").dataType))
      }
    }, "documents")

    // embeddings: rotate component order per replica (k = 0 verbatim);
    // offset 1 + (k mod (dim-1)) ∈ [1, dim-1] is NEVER 0, so no
    // replica's vector is a verbatim copy of its base
    write(reps(t("embeddings")) { (d, k) =>
      val mapped = remap(d, k, "vec_id")
      if (k == 0) mapped
      else {
        val e = col("embedding")
        val rot = lit(1) + pmod(lit(k), size(e) - 1)
        mapped.withColumn("embedding",
          when(e.isNull || size(e) <= 1, e)
            .otherwise(concat(slice(e, rot + 1, size(e) - rot),
              slice(e, lit(1), rot))))
      }
    }, "embeddings")

    spark.stop()
  }
}
