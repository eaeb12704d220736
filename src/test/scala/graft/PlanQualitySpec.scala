package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan

/** Physical-plan regression guards: the performance story rests on specific
  * plan shapes (filters reaching the parquet scan, narrow read schemas,
  * broadcast joins for dimension-sized sides, TakeOrderedAndProject instead
  * of global sorts). A code change that silently loses one of these still
  * returns correct rows — only the plan shows the regression, so pin it. */
class PlanQualitySpec extends SparkSpec {

  private def planOf(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sfDir)
    df.queryExecution.executedPlan.toString
  }

  test("q15 KNN: top-k via TakeOrderedAndProject, query vector broadcast, no sort-merge join") {
    val p = planOf("q15_knn_cosine")
    assert(p.contains("TakeOrderedAndProject"), s"global sort instead of top-k heap:\n$p")
    assert(p.contains("BroadcastExchange") || p.contains("Broadcast"),
      s"query row not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"KNN shuffled a sort-merge join:\n$p")
  }

  test("q70 range join: equi-join machinery, never a nested loop") {
    val p = planOf("q70_range_join")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"range join nested-looped:\n$p")
    assert(!p.contains("CartesianProduct"), s"range join went cartesian:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"), s"no equi-join machinery:\n$p")
  }

  test("q82 bloom semi join: prefilter evaluated scan-side, then a real semi join") {
    val p = planOf("q82_bloom_semi")
    // the bloom probe must run BEFORE the join (a Filter under the join),
    // and the exactness pass must still be a semi join
    assert(p.contains("LeftSemi"), s"no semi join in:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"bloom semi join degenerated:\n$p")
  }

  test("q87 top-k per group: partial ObjectHashAggregate, no Window operator") {
    val p = planOf("q87_topk_group")
    assert("ObjectHashAggregate".r.findAllIn(p).length >= 2,
      s"no partial/final aggregator pair in:\n$p")
    assert(!p.contains("Window"), s"fell back to a window sort:\n$p")
  }

  test("q80 triangles: all equi-joins, no cartesian/nested-loop anywhere") {
    val p = planOf("q80_triangle_counts")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"triangle counting degenerated to a product:\n$p")
  }

  test("bucketed tables co-locate: the join runs with no shuffle and no sort") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val chunks = (0L until 2000L).map(i => (i % 400, i, s"chunk_$i"))
      .toDF("memory_id", "chunk_id", "text")
    val memories = (0L until 400L).map(i => (i, s"memory_$i")).toDF("mem_id", "title")
    // one writer task → one file per bucket; Spark only trusts the sortBy
    // order (and skips the per-task sort) for single-file buckets
    def bucketed(df: org.apache.spark.sql.DataFrame, table: String, key: String): Unit =
      df.repartition(1).write.mode("overwrite").format("parquet")
        .bucketBy(8, key).sortBy(key).saveAsTable(table)
    bucketed(chunks, "bq_chunks", "memory_id")
    bucketed(memories, "bq_memories", "mem_id")
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force the merge path
    // since 3.0 Spark ignores the buckets' sortBy order unless told to trust
    // it (it requires the one-file-per-bucket layout we wrote above)
    spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    try {
      val joined = spark.table("bq_chunks")
        .join(spark.table("bq_memories"),
          col("memory_id") === col("mem_id"))
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), s"expected a sort-merge join:\n$p")
      assert(!p.contains("Exchange"),
        s"bucketed join still shuffles — co-location lost:\n$p")
      // sortBy'd single-file buckets arrive pre-sorted: no per-task sort either
      assert(!p.contains("Sort ["), s"bucketed-sorted data re-sorted:\n$p")
      assert(joined.count() === 2000L)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.conf.unset("spark.sql.legacy.bucketedTableScan.outputOrdering")
      spark.sql("DROP TABLE IF EXISTS bq_chunks")
      spark.sql("DROP TABLE IF EXISTS bq_memories")
    }
  }

  test("q115 fused search: top-k hit list, ACL point-get, one shuffle, no product") {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.{FilterExec, QueryExecution, TakeOrderedAndProjectExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastNestedLoopJoinExec,
      CartesianProductExec, SortMergeJoinExec}
    import org.apache.spark.sql.util.QueryExecutionListener
    import org.apache.spark.sql.graftbridge.ColumnBridge.drainListenerBus
    // searchFused runs its Spark work as bounded collects and returns a
    // local relation, so the plans to pin are those of the actions it runs
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    drainListenerBus(spark)
    spark.listenerManager.register(listener)
    try {
      assert(SparkEntry.queries("q115_fused_search")(spark, sfDir).collect().nonEmpty)
      drainListenerBus(spark)
    } finally spark.listenerManager.unregister(listener)
    def all(p: SparkPlan): Seq[SparkPlan] = p +: PlanAudit.kids(p).flatMap(all)
    val ran = plans.toArray(Array.empty[SparkPlan]).toSeq
    val text = ran.mkString("\n----\n")
    def cols(p: SparkPlan) = p.output.map(_.name)

    // the hit list: a top-k heap over the chunk scan, ACL filter below it
    val hitList = ran.filter(p => all(p).exists {
      case t: TakeOrderedAndProjectExec => cols(t).contains("chunk_id")
      case _ => false
    })
    assert(hitList.length === 1, s"no single top-k hit list among:\n$text")
    assert(hitList.head.toString.contains("user_read_access"),
      s"ACL filter missing from the hit list:\n${hitList.head}")

    // hydration: a filtered memories scan carrying the ACL and id-In
    // predicates, no join
    val hydration = ran.filter(p => cols(p) ==
      Seq("memory_id", "content", "title", "user_id", "created_at"))
    assert(hydration.length === 1, s"no single hydration point-get among:\n$text")
    val conds = all(hydration.head).collect { case f: FilterExec => f.condition.sql }
    assert(conds.exists(_.contains("user_read_access")),
      s"ACL predicate missing from hydration:\n${hydration.head}")
    assert(conds.exists(c => c.contains("memory_id IN (") || c.contains("memory_id INSET")),
      s"memory_id In predicate missing from hydration:\n${hydration.head}")
    assert(!all(hydration.head).exists(_.isInstanceOf[BaseJoinExec]),
      s"hydration joined instead of filtering:\n${hydration.head}")

    val nodes = ran.flatMap(all)
    assert(!nodes.exists {
      case _: CartesianProductExec | _: SortMergeJoinExec | _: BroadcastNestedLoopJoinExec => true
      case _ => false
    }, s"fused search planned a product or a sort-merge join:\n$text")
    // the search's only shuffle is the graph branch's distinct; the one
    // other is q115's own input, its topic nodes (a distinct on lang)
    val shuffleKeys = nodes.collect {
      case s: ShuffleExchangeExec => s.outputPartitioning match {
        case h: HashPartitioning => h.expressions.flatMap(_.references.map(_.name)).mkString(",")
        case other => other.toString
      }
    }
    assert(shuffleKeys.sorted === Seq("lang", "memory_id"),
      s"fused search grew a shuffle (${shuffleKeys.mkString("; ")}):\n$text")
  }

  test("q121 sequence packing: one window per shard, no extra exchange") {
    val p = planOf("q121_sequence_packing")
    // exactly one Window (the cumsum); the groupBy reuses its partitioning
    assert("Window".r.findAllIn(p).length >= 1, s"no window cumsum in:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      s"packing grew a join:\n$p")
  }

  test("q122 batch KNN: bounded ObjectHashAggregate pair, no window sort") {
    val p = planOf("q122_batch_knn")
    assert("ObjectHashAggregate".r.findAllIn(p).length >= 2,
      s"no partial/final bounded top-k pair in:\n$p")
    assert(!p.contains("Window"), s"fell back to a window sort:\n$p")
    assert(!p.contains("CartesianProduct"), s"query set not broadcast:\n$p")
  }

  test("dynamic partition pruning: a selective dim filter prunes fact partitions at runtime") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // the 100 TB fact⋈dim posture: the fact table is laid out partitioned
    // by date and sorted by id within files; a filter that lives on
    // the DIM side must still prune fact PARTITIONS — statically invisible,
    // so Spark must inject a runtime (dynamicpruning) subquery into the
    // fact scan. If this plan feature is lost, every dim-filtered join
    // degrades to a full fact scan.
    val dir = java.nio.file.Files.createTempDirectory("dpp_fact").toString
    val fact = (0 until 10000).map(i => (i.toLong, i % 20, i * 1.0)).toDF("id", "day", "v")
    fact.repartition(col("day")).sortWithinPartitions("day", "id")
      .write.mode("overwrite").partitionBy("day").parquet(dir)
    val dimDir = java.nio.file.Files.createTempDirectory("dpp_dim").toString
    (0 until 20).map(i => (i, if (i < 2) "keep" else "drop")).toDF("d_day", "tag")
      .write.mode("overwrite").parquet(dimDir)
    val joined = spark.read.parquet(dir)
      .join(spark.read.parquet(dimDir).filter(col("tag") === "keep"),
        col("day") === col("d_day"))
    val p = joined.queryExecution.executedPlan.toString
    assert(p.toLowerCase.contains("dynamicpruning"),
      s"no runtime partition-pruning subquery on the fact scan:\n$p")
    assert(joined.count() === 1000L)
  }

  test("q134 hard negatives: filters precede the bounded top-k pair, scan is pruned") {
    val p = planOf("q134_hard_negatives")
    assert("ObjectHashAggregate".r.findAllIn(p).length >= 2,
      s"no partial/final bounded top-k pair in:\n$p")
    assert(!p.contains("Window"), s"fell back to a window sort:\n$p")
    // anchors broadcast; label/cap filters must run before aggregation so
    // ≤ k rows per anchor leave each partition
    assert(p.contains("BroadcastExchange"), s"anchor batch not broadcast:\n$p")
    assert(p.contains("GreaterThan(vec_id,5"), s"corpus filter not pushed:\n$p")
  }

  test("q133 mixture sample: one domain window, quota joined by broadcast") {
    val p = planOf("q133_mixture_sample")
    assert(p.contains("BroadcastHashJoin"), s"quota table not broadcast:\n$p")
    assert("Window".r.findAllIn(p).length >= 1, s"no rank window:\n$p")
    assert(!p.contains("SortMergeJoin"), s"quota join shuffled:\n$p")
    // only (doc_id, source) may be read — never the text payload
    assert(!p.contains("text"), s"read schema not pruned to id+domain:\n$p")
  }

  test("q135 matryoshka rescore: prefix prune is a top-k heap, never a global sort") {
    val p = planOf("q135_matryoshka_rescore")
    assert(p.contains("TakeOrderedAndProject"), s"global sort instead of top-k heap:\n$p")
    assert(!p.contains("SortMergeJoin"), s"query row join shuffled:\n$p")
  }

  test("q47 flagship search plan: one rollup exchange, broadcast hydration, no product") {
    val p = planOf("q47_domain_search")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"hydration not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"flagship search went cartesian:\n$p")
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length <= 1,
      s"unexpected nested-loop join beyond the qvec attach:\n$p")
    assert(!p.contains("SortMergeJoin"), s"hydration shuffled a sort-merge join:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"global sort instead of top-k heap:\n$p")
  }

  test("q148 containment / q150 sparse cosine: inverted-index equi-joins, " +
    "never a cartesian or nested loop") {
    Seq("q148_containment", "q150_sparse_cosine_join").foreach { q =>
      val p = planOf(q)
      assert(!p.contains("CartesianProduct"), s"$q went cartesian:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q nested-loop joined:\n$p")
    }
  }

  test("q151 record linkage: block-keyed equi self-join, score is a " +
    "projection (no aggregation, no window)") {
    val p = planOf("q151_fellegi_sunter")
    assert(!p.contains("CartesianProduct"), s"blocking lost — cartesian:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"blocking lost — nested loop:\n$p")
    assert(!p.contains("WindowExec") && !p.contains("Window "),
      s"score should be a pure projection:\n$p")
  }

  test("q189 prefix join: candidate generation is equi-join keyed, never a product") {
    val p = planOf("q189_prefix_filter_join")
    assert(!p.contains("CartesianProduct"), s"prefix join went cartesian:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"prefix join nested-loop joined:\n$p")
  }

  test("q230 margin bitext: both KNN legs broadcast the query side into " +
    "bounded top-k aggregations, no sort-merge join") {
    val p = planOf("q230_margin_bitext")
    assert(p.contains("ObjectHashAggregate"),
      s"bounded TopK aggregator missing:\n$p")
    assert(p.contains("BroadcastExchange"), s"query side not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"bitext scoring shuffled a sort-merge join:\n$p")
  }

  test("q247 hubness: all-pairs KNN runs as a bounded top-k aggregation " +
    "with the query batch broadcast, no sort-merge join") {
    val p = planOf("q247_hubness")
    assert(p.contains("ObjectHashAggregate"),
      s"bounded TopK aggregator missing:\n$p")
    assert(p.contains("BroadcastExchange") || p.contains("Broadcast"),
      s"query batch not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"hubness scoring shuffled a sort-merge join:\n$p")
  }

  test("q239 k-center: a selection round scans the corpus against " +
    "BROADCAST centers — no shuffle join, no cartesian against a " +
    "non-broadcast side (the query's own rounds are checkpointed, so pin " +
    "the round shape directly)") {
    import org.apache.spark.sql.functions._
    import graft.functions.VectorFunctions.cosineSim
    val emb = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
    val centers = emb.orderBy(col("vec_id")).limit(2)
    val round = emb
      .crossJoin(broadcast(centers.select(col("embedding").as("cvec"))))
      .withColumn("dist", lit(1.0) - cosineSim(col("embedding"), col("cvec")))
      .groupBy(col("vec_id"))
      .agg(min(col("dist")).as("mindist"), first(col("embedding")).as("embedding"))
      .orderBy(desc("mindist"), col("vec_id")).limit(1)
    val p = round.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastExchange"), s"centers not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"k-center round shuffled the corpus:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"argmax planned a global sort:\n$p")
  }

}
