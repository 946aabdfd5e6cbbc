package graft

import org.apache.spark.sql.functions._
import graft.wbot.{Fixtures, SparkCrawler}

/**
 * Physical-plan quality gates (SURVEY.md §4.2): the declarative pipeline must
 * actually get the Catalyst rewrites the 100 TB design depends on — column
 * pruning and predicate pushdown into the parquet scan, broadcast for small
 * join sides, no re-shuffle of the pre-partitioned pages table in the fetch
 * join, and whole-stage codegen around the hot filters.
 */
class PlanSpec extends SparkSuite {

  private val sf = "/root/testdata/sf0.001"

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("column pruning: sha-identity scan reads only (doc_id, text)") {
    val plan = planOf(SparkEntry.queries("q01_sha_identity")(spark, sf))
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"html/lang/source should be pruned from the scan:\n$plan")
  }

  test("predicate pushdown: contains filter reaches the parquet scan") {
    val plan = planOf(SparkEntry.queries("q08_contains_scope")(spark, sf))
    assert(plan.contains("PushedFilters:") && plan.contains("StringContains(source,1)"),
      s"contains-predicate not pushed:\n$plan")
  }

  test("broadcast: ANN query set is broadcast, not shuffled") {
    val plan = planOf(SparkEntry.queries("q18_ann_topk")(spark, sf))
    assert(plan.contains("BroadcastExchange") || plan.contains("BroadcastNestedLoopJoin"),
      s"small query side should broadcast:\n$plan")
  }

  test("declared driver-table schemas equal the parquet footers' schemas") {
    // sf0.01, next to the sf0.001 tables the other tests read
    val dir = new java.io.File(sf).getParent + "/sf0.01"
    for ((name, ddl) <- SparkEntry.tableSchemas) {
      val inferred = spark.read.parquet(s"$dir/$name.parquet").schema
      assert(inferred == org.apache.spark.sql.types.StructType.fromDDL(ddl),
        s"$name: declared $ddl, footers ${inferred.toDDL}")
    }
  }

  test("whole-stage codegen spans the quality-score projection") {
    // codegen stages appear as "*(n)" in the plan string. Inputs above the
    // query byte bound keep generated code; sf0.001 is below the default one
    val plan = SparkEntry.interpretedBytesBound.withValue(0L) {
      planOf(SparkEntry.queries("q20_quality")(spark, sf))
    }
    assert(plan.contains("*(1)"), s"expected a codegen stage:\n$plan")
    val small = planOf(SparkEntry.queries("q20_quality")(spark, sf))
    assert(!small.contains("*("), s"expected no codegen stage below the bound:\n$small")
  }

  test("fetch join: pre-partitioned pages side is not re-shuffled") {
    val spec = Fixtures.tiny
    val pagesPrep = SparkCrawler.preparePages(SparkTestBase.pagesDf(spec), 4)
    pagesPrep.count() // materialize the cache (partitioning becomes visible)
    val frontier = SparkCrawler.seedFrontier(spark, Fixtures.seeds(spec),
      graft.wbot.Schemas.CrawlConfig(partitions = 4))
    val joined = frontier.join(pagesPrep.drop("hash64"), Seq("canon"), "left")
    val plan = planOf(joined)
    // the cached pages relation must not be re-shuffled: no fresh
    // hashpartitioning exchange ABOVE the InMemoryRelation (the exchange
    // inside the cached plan is the one-time preparePages layout). This
    // unhinted join may still broadcast: a left join that keeps the
    // frontier can only build its right side, so the broadcast AQE picks is
    // the PAGES side — which is why the engine pins sort-merge (see the
    // crawl-wide fetch-join plan test below)
    val above = plan.substring(0, plan.indexOf("InMemoryRelation").max(0))
    assert(plan.contains("InMemoryTableScan"), s"pages cache missing:\n$plan")
    assert(!above.contains("Exchange hashpartitioning"),
      s"pages side re-shuffled above the cache:\n$plan")
    pagesPrep.unpersist()
  }

  test("fetch join: every superstep sort-merges over the pages side in place; it never broadcasts") {
    import org.apache.spark.sql.execution.SparkPlanInfo
    // two seeds over 20 hosts × 50 pages at P = 4: d0's frontier reads the
    // pruned bucket scan, later frontiers pass 4·P rows and read the whole
    // cache (the corpus is far below the 10 MB broadcast threshold)
    val spec = Fixtures.SiteSpec(nHosts = 20, pagesPerHost = 50)
    val cfg = graft.wbot.Schemas.CrawlConfig(maxDepth = 3, partitions = 4)
    val pagesPrep = SparkCrawler.preparePages(SparkTestBase.pagesDf(spec), 4)
    pagesPrep.count()
    // every SQL execution's final plan, adaptive (above the row bound) or
    // static (the small supersteps)
    val (run, recorded) =
      try SparkTestBase.recording(SparkCrawler.runPrepared(spark, pagesPrep, Fixtures.seeds(spec), cfg))
      finally { pagesPrep.unpersist(); () }
    assert(run.steps.map(_.frontierSize).max >= 16L, "no frontier reached 4·P rows")

    // the pages side's leaf: the cache scan or its pruned bucket scan, the
    // only leaves carrying html. An InMemoryTableScan's info holds the
    // cached plan as its child; a walk stops there.
    def pagesLeaf(p: SparkPlanInfo) = p.simpleString.contains("html#") &&
      (p.nodeName == "InMemoryTableScan" || p.nodeName == "Scan ExistingRDD")
    def pathsToPages(p: SparkPlanInfo): Seq[Seq[SparkPlanInfo]] =
      if (pagesLeaf(p)) Seq(Seq(p))
      else if (p.nodeName == "InMemoryTableScan") Nil
      else p.children.toSeq.flatMap(c => pathsToPages(c).map(p +: _))
    // per path, the join nearest the pages leaf is the fetch join
    val fetches = for {
      plan <- recorded.finalPlans; path <- pathsToPages(plan)
      j = path.lastIndexWhere(_.nodeName.contains("Join")) if j >= 0
    } yield (path(j), path.drop(j + 1))
    assert(fetches.size >= run.steps.size, s"${fetches.size} fetch joins in ${run.steps.size} supersteps")
    val leaves = fetches.map(_._2.last.nodeName).toSet
    assert(leaves == Set("InMemoryTableScan", "Scan ExistingRDD"),
      s"expected pruned and whole-cache fetch joins, got $leaves")
    for ((join, pagesSide) <- fetches) {
      val shown = (join +: pagesSide).map(_.simpleString).mkString("\n")
      assert(join.nodeName == "SortMergeJoin" && join.simpleString.contains("LeftOuter"),
        s"fetch join is not a sort-merge left join:\n$shown")
      val moved = pagesSide.filter(n => Set("BroadcastExchange", "BroadcastQueryStage",
        "Exchange", "ShuffleQueryStage", "Sort").contains(n.nodeName))
      assert(moved.isEmpty, s"pages side exchanged, sorted or broadcast:\n$shown")
    }
  }

  test("preparePages: duplicate canons resolve to a deterministic winner (latest snapshot)") {
    import spark.implicits._
    // www alias + re-crawled snapshot: three rows, ONE canon — the survivor
    // must be the max-(warc_ts, url) row on every run, not first-seen
    val rows = Seq(
      ("http://site0.com/a", 1000L, "old"),
      ("http://www.site0.com/a", 3000L, "newest"),
      ("http://site0.com/a?x=1", 2000L, "other-canon"))
    val df = rows.map { case (u, ts, body) =>
      (u, new java.sql.Timestamp(ts), body.getBytes("UTF-8"), body, "en")
    }.toDF("url", "warc_ts", "html", "text", "lang")
    val prep = SparkCrawler.preparePages(df, 2)
    try {
      val got = prep.collect().map(r =>
        r.getString(0) -> new String(r.getAs[Array[Byte]]("html"), "UTF-8")).toMap
      assert(got == Map("site0.com/a" -> "newest", "site0.com/a?x=1" -> "other-canon"))
    } finally prep.unpersist()
  }

  test("politeness window projection stays inside codegen (no scala UDF)") {
    val cfg = graft.wbot.Schemas.CrawlConfig(partitions = 4,
      rateLimits = Map("*" -> graft.wbot.Schemas.Budget(3, 1000L),
        "host0.com" -> graft.wbot.Schemas.Budget(7, 1000L)))
    val frontier = SparkCrawler.seedFrontier(spark, Fixtures.seeds(Fixtures.tiny), cfg)
    val scheduled = graft.wbot.Politeness.assignIntervals(frontier, cfg, saltFanout = 1)
    scheduled.collect() // finalize the AQE plan so codegen stages are visible
    val plan = planOf(scheduled)
    assert(!plan.contains("UDF"), s"budget lookup fell back to a scala UDF:\n$plan")
    assert(plan.contains("*("), s"expected a codegen stage around the interval projection:\n$plan")
  }

  test("denseRangeRank: sampling-free, no single-partition window, exact order") {
    // the crawl-loop rank: leading key's range is known → no sampling pass,
    // no global window (the round-2 small-frontier single-partition shortcut
    // is GONE — every volume takes the bucketed path)
    import spark.implicits._
    val df = (1 to 5000).map(i => (i.toLong % 500, i.toLong, s"v$i"))
      .toDF("seqk", "tie", "v")
    val rank = graft.wbot.Ranks.denseRangeRank(df, col("seqk"), 0L, 500L,
      Seq(col("tie")), "rnk", 4)
    assert(rank.total == 5000L)
    val got = rank.df.orderBy("rnk").select("seqk", "tie").as[(Long, Long)].collect().toSeq
    assert(got == (1 to 5000).map(i => (i.toLong % 500, i.toLong)).sorted)
    val plan = planOf(rank.df)
    assert(!plan.contains("UDF"), s"offset lookup fell back to a scala UDF:\n$plan")
    // partitioned window only (WindowExec would move all rows to one task if
    // the partition spec were empty)
    assert(plan.contains("windowspecdefinition(__pid"),
      s"rank window must partition by the range bucket:\n$plan")
  }

  test("denseRangeRank: an empty input ranks nothing") {
    import spark.implicits._
    val df = Seq.empty[(Long, Long)].toDF("seqk", "tie")
    val rank = graft.wbot.Ranks.denseRangeRank(df, col("seqk"), 0L, 500L,
      Seq(col("tie")), "rnk", 4)
    assert(rank.total == 0L)
    assert(rank.df.collect().isEmpty)
  }

  test("denseRangeRank: every row under one parent keeps the exact order") {
    import spark.implicits._
    // one value bucket holds all rows, the other 31 none
    val df = (1 to 3000).map(i => (7L, (i * 7919L) % 3001L)).toDF("seqk", "tie")
    val rank = graft.wbot.Ranks.denseRangeRank(df, col("seqk"), 0L, 500L,
      Seq(col("tie")), "rnk", 4)
    assert(rank.total == 3000L)
    val got = rank.df.orderBy("rnk").select("rnk", "tie").as[(Long, Long)].collect().toSeq
    assert(got.map(_._1) == (1L to 3000L))
    assert(got.map(_._2) == (1 to 3000).map(i => (i * 7919L) % 3001L).sorted)
  }

  test("denseRangeRank: one job fills the bucket store and returns its counts") {
    import spark.implicits._
    import org.apache.spark.sql.graftbridge.DatasetBridge
    // a static plan: one job per action (AQE would add one per query stage)
    val static = DatasetBridge.staticCopy(spark)
    val df = DatasetBridge.inSession(
      (1 to 5000).map(i => (i.toLong % 500, i.toLong)).toDF("seqk", "tie"), static)
    val (rank, recorded) = SparkTestBase.recording(graft.wbot.Ranks.denseRangeRank(df,
      col("seqk"), 0L, 500L, Seq(col("tie")), "rnk", 4))
    assert(recorded.jobs == 1, s"${recorded.jobs} jobs")
    assert(rank.total == 5000L)
    val stores = rank.cached.queryExecution.analyzed.collectLeaves().collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
    }
    val info = spark.sparkContext.getRDDStorageInfo.filter(i => stores.contains(i.id))
    assert(info.length == 1 && info.head.numCachedPartitions == info.head.numPartitions,
      "the store is not filled")
    DatasetBridge.release(rank.cached)
    assert(!spark.sparkContext.getPersistentRDDs.contains(stores.head))
  }

  test("pages-cache pid formula matches Spark's hash partitioning exactly") {
    // the fetch-join bucket pruning derives a partition id as
    // pmod(hash(canon), P); it MUST equal the id Spark's repartition
    // actually assigned, for every row — else pruning would drop real pages
    val spec = Fixtures.tiny
    val prep = SparkCrawler.preparePages(SparkTestBase.pagesDf(spec), 4)
    try {
      prep.count()
      val bad = prep
        .withColumn("actual", org.apache.spark.sql.functions.spark_partition_id())
        .withColumn("derived", pmod(hash(col("canon")), lit(4)).cast("int"))
        .where(col("actual") =!= col("derived")).count()
      assert(bad == 0L, "derived pid diverges from physical partition id")
    } finally prep.unpersist()
  }

  test("pruned pages scan: exact rows, and the left fetch-join adds no pages-side exchange/sort") {
    import org.apache.spark.sql.graftbridge.DatasetBridge
    val spec = Fixtures.tiny
    val prep = SparkCrawler.preparePages(SparkTestBase.pagesDf(spec), 4)
    try {
      prep.count()
      val keep = Set(1, 3)
      val pruned = DatasetBridge.prunedCacheScan(prep, keep, Seq("canon"), 4, Seq("canon"))
      // row-exactness: pruned scan == rows whose pid is kept
      val expect = prep.where(pmod(hash(col("canon")), lit(4)).cast("int").isin(keep.toSeq: _*))
        .select("canon").collect().map(_.getString(0)).toSet
      val got = pruned.select("canon").collect().map(_.getString(0)).toSet
      assert(got == expect && got.nonEmpty)
      // join-parity: a frontier whose canons all hash into kept buckets gets
      // identical fetch results from the pruned side
      val frontier = SparkCrawler.seedFrontier(spark, Fixtures.seeds(spec),
        graft.wbot.Schemas.CrawlConfig(partitions = 4))
        .where(pmod(hash(col("canon")), lit(4)).cast("int").isin(keep.toSeq: _*))
      val full = frontier.join(prep.drop("hash64"), Seq("canon"), "left")
        .select(col("canon"), col("html").isNotNull.as("hit")).collect().map(r => (r.getString(0), r.getBoolean(1))).toSet
      val viaPruned = frontier.join(pruned.drop("hash64"), Seq("canon"), "left")
        .select(col("canon"), col("html").isNotNull.as("hit")).collect().map(r => (r.getString(0), r.getBoolean(1))).toSet
      assert(viaPruned == full)
      // plan: merge-join path sorts ONLY the frontier; the pruned pages leaf
      // is read with no exchange and no sort above it
      val joined = frontier.hint("merge").join(pruned.drop("hash64"), Seq("canon"), "left")
      joined.collect()
      val plan = planOf(joined)
      val finEnd = plan.indexOf("Initial Plan")
      val fin = plan.substring(math.max(0, plan.indexOf("Final Plan")),
        if (finEnd < 0) plan.length else finEnd)
      val pagesPart = fin.substring(fin.indexOf("Scan ExistingRDD") - 400)
      assert(fin.contains("SortMergeJoin"), s"expected sort-merge fetch join:\n$fin")
      assert("Exchange".r.findAllIn(fin).size == 1, s"pages side re-shuffled:\n$fin")
      assert("Sort ".r.findAllIn(fin).size == 1, s"pages side re-sorted:\n$pagesPart\n$fin")
    } finally prep.unpersist()
  }

  test("pruned scan computes only the kept partitions of an unpersisted input") {
    import spark.implicits._
    import org.apache.spark.sql.graftbridge.DatasetBridge
    // unpersisted: under AQE, toRdd of a persisted DataFrame builds the whole
    // cache first, so only a recomputed input shows what the scan computes
    val computed = spark.sparkContext.longAccumulator("pruned scan partitions")
    val input = (1 to 400).map(i => s"http://h$i.example.com/").toDF("canon")
      .repartition(4, col("canon"))
    val counted = input.as[String].mapPartitions { it => computed.add(1L); it }.toDF("canon")
    val keep = Set(1, 3)
    val got = DatasetBridge.prunedCacheScan(counted, keep, Seq("canon"), 4, Nil)
      .collect().map(_.getString(0)).toSet
    assert(computed.value == 2L, s"computed ${computed.value} of 4 partitions")
    val expect = input.where(spark_partition_id().isin(keep.toSeq: _*))
      .collect().map(_.getString(0)).toSet
    assert(got == expect && got.nonEmpty)
  }

  test("seen anti-join: aligned delta union needs NO exchange or sort on the seen side") {
    import spark.implicits._
    import org.apache.spark.sql.graftbridge.DatasetBridge
    val p = 4 // == spark.sql.shuffle.partitions in the test session
    def delta(r: Range): org.apache.spark.sql.DataFrame = {
      val d = r.map(i => (s"h$i", i.toLong)).toDF("hash", "hash64")
        .repartition(p, col("hash")).persist()
      d.count()
      DatasetBridge.lineageCutPartitioned(d, Seq("hash"), p)
    }
    val u = DatasetBridge.alignedUnion(Seq(delta(1 to 500), delta(400 to 900)), Seq("hash"), p)
    assert(u.count() == 1001L && u.distinct().count() == 900L)
    val cand = (300 to 1200).map(i => (s"h$i", i)).toDF("hash", "v")
    // the engine's guarded anti-join shape (SeenSet.joinSide, large-seen path)
    val anti = cand.join(u.select("hash").hint("shuffle_hash"), Seq("hash"), "left_anti")
    assert(anti.collect().length == 300) // h901..h1200 survive
    val plan = planOf(anti)
    val finEnd = plan.indexOf("Initial Plan")
    val fin = plan.substring(plan.indexOf("Final Plan"),
      if (finEnd < 0) plan.length else finEnd)
    assert(fin.contains("ShuffledHashJoin"), s"expected shuffled-hash anti-join:\n$fin")
    // exactly ONE exchange (the candidate side); the seen union reads its
    // aligned partitions straight into the join — no shuffle, no sort
    assert("Exchange".r.findAllIn(fin).size == 1, s"seen side re-shuffled:\n$fin")
    assert(!fin.contains("Sort "), s"unexpected sort in anti-join:\n$fin")
  }

  test("flagship entry returns rows (driver smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
