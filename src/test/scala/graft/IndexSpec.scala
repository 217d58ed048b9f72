package graft

import graft.operators.{Index, Pipe}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SortExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Index build / unique check / find / subIndex / sorted iteration /
  * persistence — csvplus_test.go:198-246, 454-514, 573-649, 808-909,
  * 960-1014. */
class IndexSpec extends GraftSpec with AdaptiveSparkPlanHelper {

  private def rows(df: DataFrame): Seq[Seq[Any]] = df.collect().map(_.toSeq).toSeq

  test("indexOn sorts lexicographically on the key columns") {
    val got = Index.indexOn(people, "name", "surname").iterate
      .select("name", "surname").collect().map(r => (r.getString(0), r.getString(1)))
    val want = Fixtures.peopleData.map(p => (p.name, p.surname))
      .sortBy(identity).toIndexedSeq
    assert(got.toIndexedSeq == want)
  }

  test("empty / duplicate key columns panic (reference parity)") {
    val e1 = intercept[IllegalArgumentException] { Index.indexOn(people) }
    assert(e1.getMessage == "empty column list in CreateIndex()")
    val e2 = intercept[IllegalArgumentException] { Index.indexOn(people, "id", "id") }
    assert(e2.getMessage == "duplicate column name(s) in CreateIndex()")
  }

  test("missing key column errors with reference text") {
    val e = intercept[IllegalArgumentException] { Index.indexOn(people, "nope") }
    assert(e.getMessage == """missing column "nope" while creating an index""")
  }

  test("uniqueIndexOn succeeds on unique key, fails on duplicates with offending key") {
    Index.uniqueIndexOn(people, "id") // must not throw
    val e = intercept[IllegalStateException] { Index.uniqueIndexOn(people, "name") }
    assert(e.getMessage.startsWith("duplicate value while creating unique index: "))
    assert(e.getMessage.contains("\"name\" : \""))
  }

  test("find: point lookup returns the equal range (csvplus_test.go:573-649)") {
    val idx = Index.indexOn(people, "name")
    val amelias = idx.find("Amelia").collect()
    assert(amelias.length == 12)
    assert(amelias.forall(_.getAs[String]("name") == "Amelia"))
    // prefix lookup on 2-col index
    val idx2 = Index.indexOn(people, "name", "surname")
    assert(idx2.find("Amelia").count() == 12)
    assert(idx2.find("Amelia", "Smith").count() == 1)
    val e = intercept[IllegalArgumentException] { idx2.find("a", "b", "c") }
    assert(e.getMessage.contains("too many columns"))
  }

  test("subIndex narrows and re-keys; too many values panics") {
    val idx = Index.indexOn(people, "name", "surname")
    val sub = idx.subIndex("Emily")
    assert(sub.keyCols == Seq("surname"))
    assert(sub.iterate.count() == 12)
    assert(sub.find("Jones").count() == 1)
    val e = intercept[IllegalArgumentException] { idx.subIndex("Emily", "Jones") }
    assert(e.getMessage == "too many values in SubIndex()")
  }

  test("index persist / load round-trip (gob → parquet)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_idx").toString
    val idx = Index.indexOn(people, "name", "surname")
    idx.writeTo(s"$dir/idx")
    val loaded = Index.load(spark, s"$dir/idx", "name", "surname")
    val a = idx.iterate.collect().map(_.toSeq)
    val b = loaded.iterate.collect().map(_.toSeq)
    assert(a.toSeq == b.toSeq)
  }

  test("bucketed index tables join with no shuffle on either side") {
    // stale locations survive across JVMs while the in-memory catalog
    // doesn't — clear both before writing
    Seq("t_orders_b", "t_people_b").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val p = java.nio.file.Paths.get(s"/tmp/graft_test_warehouse/$t")
      if (java.nio.file.Files.exists(p)) {
        java.nio.file.Files.walk(p)
          .sorted(java.util.Comparator.reverseOrder())
          .forEach(f => java.nio.file.Files.delete(f))
      }
    }
    Index.indexOn(orders, "cust_id").writeBucketedTable("t_orders_b", 8)
    Index.indexOn(people.withColumnRenamed("id", "cust_id"), "cust_id")
      .writeBucketedTable("t_people_b", 8)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("t_orders_b")
        .join(spark.table("t_people_b"), "cust_id")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join should not shuffle:\n$plan")
      assert(joined.count() == Fixtures.numOrders)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("index contents are immune to downstream mutation (csvplus_test.go:326-365)") {
    val idx = Index.indexOn(people, "id")
    val before = idx.iterate.collect().map(_.toSeq).toSeq
    // a consumer maps over the index output, changing values
    Pipe(idx.iterate).mapColumns("name" -> lit("MUTATED")).df.count()
    val after = idx.iterate.collect().map(_.toSeq).toSeq
    assert(before == after)
  }

  test("cached() returns a new cached index; the receiver stays uncached and unpersist frees it") {
    val sc = spark.sparkContext
    val before = sc.getRDDStorageInfo.length
    val idx = Index.indexOn(orders, "cust_id")
    val c = idx.cached()
    try {
      c.df.count()
      assert(c.keyCols == idx.keyCols)
      assert(c.df.storageLevel != StorageLevel.NONE, "the cache manager must hold c.df")
      assert(idx.df.storageLevel == StorageLevel.NONE, "the receiver's df must stay uncached")
      assert(sc.getRDDStorageInfo.length > before)
    } finally c.df.unpersist(blocking = true)
    assert(sc.getRDDStorageInfo.length == before)
  }

  test("a cached index answers exactly as the uncached one, order included") {
    val dir = java.nio.file.Files.createTempDirectory("graft_idx_cached").toString
    Seq(Index.uniqueIndexOn(people, "name", "surname"), Index.indexOn(orders, "cust_id"))
      .zipWithIndex.foreach { case (idx, i) =>
        val c = idx.cached()
        try {
          val key = idx.iterate.head().getValuesMap[Any](idx.keyCols)
          val point = idx.keyCols.map(key)
          val prefix = point.init
          val absent = point.init :+ "no-such-key"
          Seq(point, prefix, absent).foreach { k =>
            assert(rows(c.find(k: _*)) == rows(idx.find(k: _*)), s"find(${k.mkString(", ")})")
          }
          assert(rows(c.find(point: _*)).nonEmpty)
          assert(rows(c.find(absent: _*)).isEmpty)
          assert(rows(c.iterate) == rows(idx.iterate))
          idx.writeTo(s"$dir/u$i")
          c.writeTo(s"$dir/c$i")
          assert(rows(Index.load(spark, s"$dir/c$i", idx.keyCols: _*).iterate) ==
            rows(Index.load(spark, s"$dir/u$i", idx.keyCols: _*).iterate))
        } finally c.df.unpersist(blocking = true)
      }
  }

  test("find on a cached index is one pruned in-memory scan: no shuffle, no sort") {
    val conf = "spark.sql.inMemoryColumnarStorage.batchSize"
    val batch = 500
    val prev = spark.conf.get(conf)
    spark.conf.set(conf, batch.toString)
    val c = try Index.indexOn(orders, "cust_id").cached() finally spark.conf.set(conf, prev)
    try {
      val key = Fixtures.ordersData.head.custId
      val found = c.find(key)
      assert(found.collect().length == Fixtures.ordersData.count(_.custId == key))
      // walk the nodes, not the plan string: the InMemoryRelation prints
      // the plan that built it, and that plan holds an Exchange and a Sort
      val plan = found.queryExecution.executedPlan
      assert(collect(plan) { case e: ShuffleExchangeLike => e }.isEmpty, s"no shuffle:\n$plan")
      assert(collect(plan) { case s: SortExec => s }.isEmpty, s"no sort:\n$plan")
      // a key's rows are contiguous in the sorted cache, so they span at
      // most two batches when there are fewer of them than a batch holds
      val scanned = collect(plan) { case s: InMemoryTableScanExec => s.metrics("numOutputRows").value }
      assert(scanned.nonEmpty && scanned.sum <= 2 * batch,
        s"batch stats must skip batches that cannot hold the key (scanned $scanned)")
    } finally c.df.unpersist(blocking = true)
  }
}
