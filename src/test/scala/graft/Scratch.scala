package graft

import org.apache.spark.sql.SparkSession

/** Ad-hoc driver for manual end-to-end checks (not part of the contract). */
object Scratch {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[16]")
      .config("spark.sql.shuffle.partitions", "16")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    args.headOption.getOrElse("xlsx") match {
      case "xlsx" =>
        val sheets = graft.sources.ExcelSource.readXlsx(spark, "/root/reference/loan.xlsx")
        sheets.foreach { case (name, df) =>
          println(s"[scratch] sheet=$name rows=${df.count()}")
          df.printSchema()
          df.show(3, truncate = false)
        }
      case "pipeline" =>
        val res = graft.pipeline.IngestionPipeline.run(spark,
          Seq("/root/reference/loan.xlsx"), "target/scratch_pipeline")
        res.files.foreach(f => println(s"[scratch] ${f.input} -> ${f.parquetPath} (${f.rows} rows)"))
        println(s"[scratch] catalog: ${res.catalogJson.take(200)}...")
        val coll = spark.read.parquet(
          "target/scratch_pipeline/collections/data_source_loan_data.parquet")
        println(s"[scratch] collection chunks=${coll.count()}")
        coll.select("chunk_id", "n_rows", "row_indices").show(3, truncate = 60)
      case "plans" =>
        // regenerate PLANS.md: formatted physical plans of the headline
        // queries at sf0.01 (the artifact reviewers read for plan hygiene)
        val sf = "/root/testdata/sf0.01"
        val sb = new StringBuilder
        sb.append("# PLANS — `explain(\"formatted\")` of the headline queries (sf0.01)\n\n")
        sb.append("Generated by `sbt \"runMain graft.Scratch plans\"`. Things to check\n")
        sb.append("per plan: `PushedFilters` at the scan, pruned `ReadSchema`,\n")
        sb.append("`BroadcastHashJoin` on dimension sides, `TakeOrderedAndProject`\n")
        sb.append("for top-k, partial+final `HashAggregate` pairs.\n")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        def section(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
          val plan = df.queryExecution.explainString(
            org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
          sb.append(s"\n## $name\n\n```\n$plan```\n")
        }
        Bench.headline.foreach { name =>
          section(name, SparkEntry.queries(name)(spark, sf))
        }
        // the iterative fixpoints (q_dedup_clusters / q_semantic_dedup)
        // checkpoint every round, so their committed plans show only
        // `Scan ExistingRDD` — append ONE live propagation round per pair
        // graph so the reviewed artifact shows the real repeated shuffle
        // shape (keyed join on src, min-agg on dst, left join back)
        section("q_dedup_clusters (one propagation round, live lineage)",
          graft.ops.DedupOps.propagationRoundForPlan(
            graft.ops.DedupOps.minhashVerifiedPairs(spark, sf).select(
              org.apache.spark.sql.functions.col("id_a").as("src"),
              org.apache.spark.sql.functions.col("id_b").as("dst"))))
        section("q_semantic_dedup (one propagation round, live lineage)",
          graft.ops.DedupOps.propagationRoundForPlan(
            graft.ops.VectorOps.qEmbedNeardupPairs(spark, sf).select(
              org.apache.spark.sql.functions.col("id_a").as("src"),
              org.apache.spark.sql.functions.col("id_b").as("dst"))))
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get("PLANS.md"), sb.toString)
        println(s"[scratch] wrote PLANS.md (${Bench.headline.size} plans)")
      case "sweep" =>
        // run EVERY registered query against an arbitrary table dir and
        // report which ones throw — the edge-input audit loop (e.g. the
        // empty-tables robustness check)
        val dir = args(1)
        var bad = 0
        SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
          try { fn(spark, dir).collect(): Unit }
          catch {
            case e: Throwable =>
              bad += 1
              println(s"[sweep] $name FAILED: ${e.getClass.getSimpleName}: " +
                s"${Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString}")
          }
        }
        println(s"[sweep] done: $bad of ${SparkEntry.queries.size} failed")
      case "entry" =>
        val df = SparkEntry.entry(spark)
        println(s"[scratch] entry rows=${df.count()}")
        df.show(10, truncate = false)
      case "recall" =>
        // one-off measurement: MinHash-LSH and embedding-LSH recall vs
        // their exact formulations, per SF — evidence for the checked
        // contracts' recall claims
        import org.apache.spark.sql.functions._
        args.drop(1).foreach { dir =>
          val docs = graft.ops.Tables.t(spark, dir, "documents")
          val exact = graft.ops.DedupOps.qNgramJaccardPairs(spark, dir)
            .select("source", "id_a", "id_b")
          val shingled = graft.ops.DedupOps.withShingles(docs)
          val sigs = graft.ops.DedupOps.minhashSignatures(shingled, 32)
          val cands = graft.ops.DedupOps.minhashCandidates(sigs, 32, 8)
          val found = graft.ops.DedupOps.jaccardForPairs(shingled, cands)
            .filter(col("jaccard") >= 0.4)
          val src = docs.select(col("doc_id"), col("source"))
          val foundSrc = found
            .join(src.select(col("doc_id").as("id_a"), col("source").as("sa")), Seq("id_a"))
            .join(src.select(col("doc_id").as("id_b"), col("source").as("sb")), Seq("id_b"))
            .filter(col("sa") === col("sb"))
            .select(col("sa").as("source"), col("id_a"), col("id_b"))
          val nExact = exact.count(); val nFound = foundSrc.count()
          val nHit = foundSrc.join(exact, Seq("source", "id_a", "id_b"), "left_semi").count()
          println(s"[recall] $dir minhash same-source: exact=$nExact found=$nFound hit=$nHit")
          val exactE = graft.ops.VectorOps.qEmbedNeardupPairs(spark, dir)
            .select("id_a", "id_b")
          val lsh = SparkEntry.queries("q_embed_neardup_lsh")(spark, dir)
          println(s"[recall] lsh cols: ${lsh.columns.mkString(",")}")
          val lshPairs = lsh.select("id_a", "id_b")
          val nEE = exactE.count()
          val nLhit = lshPairs.join(exactE, Seq("id_a", "id_b"), "left_semi").count()
          println(s"[recall] $dir embed LSH: exact=$nEE lsh_hits=$nLhit lsh_total=${lshPairs.count()}")
        }
      case "ivfrecall" =>
        // does each IVF/PQ face return EXACTLY the brute-force top-k on
        // these corpora? (decides whether they can carry the exact oracle)
        import org.apache.spark.sql.functions._
        args.drop(1).foreach { dir =>
          def ids(name: String) = SparkEntry.queries(name)(spark, dir)
            .select("vec_id").collect().map(_.getLong(0)).toSeq
          val exact = ids("q_cosine_topk")
          for (n <- Seq("q_ivf_topk", "q_ivf_trained_topk", "q_pq_topk", "q_ivfpq_topk")) {
            val got = ids(n)
            println(s"[ivfrecall] $dir $n equal=${got == exact} got=$got exact=$exact")
          }
          // batch face vs per-query brute force
          val e = graft.ops.Tables.t(spark, dir, "embeddings")
          val queries = e.filter(col("vec_id") % 100 === 0)
            .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
          val exactBatch = queries.crossJoin(e.select(col("vec_id"), col("embedding")))
            .select(col("query_id"), col("vec_id"),
              round(graft.ops.Tables.cosineFast(col("embedding"), col("qv")) * 1000000, 0)
                .cast("long").as("score_e6"))
            .withColumn("rk", row_number().over(
              org.apache.spark.sql.expressions.Window.partitionBy("query_id")
                .orderBy(col("score_e6").desc, col("vec_id").asc)))
            .filter(col("rk") <= 5).drop("rk")
            .orderBy(col("query_id").asc, col("score_e6").desc, col("vec_id").asc)
            .select("query_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
          val gotBatch = SparkEntry.queries("q_ivf_topk_batch")(spark, dir)
            .select("query_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
          println(s"[ivfrecall] $dir q_ivf_topk_batch equal=${gotBatch == exactBatch}")
        }
      case "profprobe" =>
        // why is the per-table profile slow? time the agg variants
        import org.apache.spark.sql.functions._
        val p = args.lift(1).getOrElse(
          "target/bench_ingest/out_run1/parquet_files/loan_0_data.parquet")
        val df = spark.read.parquet(p)
        val cols = df.schema.fields.toSeq
        def timeIt(label: String)(f: => Unit): Unit = (1 to 3).foreach { i =>
          val t0 = System.nanoTime(); f
          println(f"[profprobe] $label run$i ${(System.nanoTime() - t0) / 1e9}%.2f s")
        }
        timeIt("count-only")(df.agg(count(lit(1))).head(): Unit)
        val nulls = cols.map(f => sum(when(col(f.name).isNull, 1L).otherwise(0L)).as(f.name))
        timeIt("nulls")(df.agg(nulls.head, nulls.tail: _*).head(): Unit)
        val ad1 = cols.map(f => approx_count_distinct(col(f.name).cast("string"), 0.01).as(f.name))
        timeIt("acd-rsd0.01")(df.agg(ad1.head, ad1.tail: _*).head(): Unit)
        val ad5 = cols.map(f => approx_count_distinct(col(f.name).cast("string"), 0.05).as(f.name))
        timeIt("acd-rsd0.05")(df.agg(ad5.head, ad5.tail: _*).head(): Unit)
      case "dedupstage" =>
        // stage attribution for qNgramJaccardPairs at a scaled dir:
        // (1) shingle+freq-order materialization, (2) candidate
        // generation off the materialized fo, (3) verify join
        import org.apache.spark.sql.functions._
        import graft.ops.DedupOps
        val dir = args(1)
        val docs = graft.ops.Tables.t(spark, dir, "documents")
        (1 to 3).foreach { rd =>
          val t0 = System.nanoTime()
          val hashed = DedupOps.withShingles(docs, "source")
            .withColumn("sh", transform(col("sh"), x => xxhash64(x)))
          val fo = hashed.localCheckpoint()
          val t1 = System.nanoTime()
          val cands = DedupOps.candidatePairs(fo, 0.4).localCheckpoint()
          val nc = cands.count()
          val t2 = System.nanoTime()
          val a = fo.select(col("doc_id").as("id_a"), col("sh").as("sa"))
          val b = fo.select(col("doc_id").as("id_b"), col("sh").as("sb"))
          val inter = size(array_intersect(col("sa"), col("sb"))).cast("double")
          val j = inter / (size(col("sa")) + size(col("sb")) - inter)
          val np = cands.join(a, Seq("id_a")).join(b, Seq("id_b"))
            .select(col("source"), col("id_a"), col("id_b"),
              round(j * 1000000, 0).cast("long").as("jaccard_e6"))
            .filter(col("jaccard_e6") >= 400000L)
            .count()
          val t3 = System.nanoTime()
          org.apache.spark.sql.GraftCheckpointUtils.unpersistCheckpoint(fo)
          org.apache.spark.sql.GraftCheckpointUtils.unpersistCheckpoint(cands)
          println(f"[dedupstage] round $rd fo=${(t1 - t0) / 1e9}%.2f s " +
            f"cands=${(t2 - t1) / 1e9}%.2f s ($nc) verify=${(t3 - t2) / 1e9}%.2f s ($np)")
        }
      case "dedupsub" =>
        // sub-stage timing inside candidatePairs at a scaled dir
        import org.apache.spark.sql.functions._
        import graft.ops.DedupOps
        val dir = args(1)
        val docs = graft.ops.Tables.t(spark, dir, "documents")
        val hashed = DedupOps.withShingles(docs, "source")
          .withColumn("sh", transform(col("sh"), x => xxhash64(x)))
        val fo = hashed.localCheckpoint()
        def tt(label: String)(f: => Long): Unit = {
          val ts = (1 to 3).map { _ =>
            val t0 = System.nanoTime(); val n = f
            ((System.nanoTime() - t0) / 1e9, n)
          }
          println(f"[dedupsub] $label times=${ts.map(t => f"${t._1}%.2f").mkString(",")} n=${ts.head._2}")
        }
        tt("prefix-explode")(DedupOps.prefixKeys(fo, 0.4).count())
        val buckets = DedupOps.prefixKeys(fo, 0.4)
          .groupBy("source", "key")
          .agg(sort_array(collect_set(struct(col("doc_id"), col("n"), col("pos"))))
            .as("ids"))
          .filter(size(col("ids")) >= 2)
        tt("buckets")(buckets.count())
        val pairsRaw = buckets
          .select(col("source"), posexplode(col("ids")).as(Seq("i", "a")), col("ids"))
          .select(col("source"), col("a.doc_id").as("id_a"), col("a.n").as("na"),
            col("a.pos").as("pa"),
            explode(slice(col("ids"), col("i") + lit(2),
              greatest(size(col("ids")) - col("i") - 1, lit(0)))).as("b"))
        tt("pair-explode")(pairsRaw.count())
        tt("full-candidates")(DedupOps.candidatePairs(fo, 0.4).count())
        org.apache.spark.sql.GraftCheckpointUtils.unpersistCheckpoint(fo)
      case "dedupvol" =>
        // volume diagnostics for the pair build: bucket-size histogram and
        // pre-groupBy pair-row count at a scaled dir
        import org.apache.spark.sql.functions._
        import graft.ops.DedupOps
        val dir = args(1)
        val docs = graft.ops.Tables.t(spark, dir, "documents")
        val hashed = DedupOps.withShingles(docs, "source")
          .withColumn("sh", transform(col("sh"), x => xxhash64(x)))
        val fo = hashed.localCheckpoint()
        val pre = DedupOps.prefixKeys(fo, 0.4)
        println(s"[dedupvol] $dir prefix rows = ${pre.count()}")
        val buckets = pre.groupBy("source", "key").agg(count(lit(1)).as("b"))
        buckets.groupBy("b").agg(count(lit(1)).as("n_buckets"))
          .orderBy(desc("b")).show(15, false)
        val pairRows = buckets.agg(
          sum(col("b") * (col("b") - 1) / 2).as("pair_rows")).head.getLong(0)
        println(s"[dedupvol] pair rows (sum b(b-1)/2) = $pairRows")
        org.apache.spark.sql.GraftCheckpointUtils.unpersistCheckpoint(fo)
      case "recall4" =>
        // recall of the adaptive-geometry families at a replicated scale
        // where the adaptive sizing changes layout (evidence for the
        // BenchScale recall-floor spec)
        import org.apache.spark.sql.functions._
        import graft.ops.{Tables, VectorOps}
        val mult = args.lift(2).map(_.toInt).getOrElse(4)
        val dir = BenchScale.ensureScaled(spark,
          args.lift(1).getOrElse("/root/testdata/sf0.1"), mult)
        val e = Tables.t(spark, dir, "embeddings")
        val n = e.count()
        println(s"[recall4] n=$n bandBits=${VectorOps.adaptiveBandBits(n)} " +
          s"lshBits=${VectorOps.adaptiveLshBits(n)} nlist=${VectorOps.adaptiveNlist(n)}")
        // exact within-label pair set at sim >= 0.3
        val a = e.select(col("label"), col("vec_id").as("id_a"), col("embedding").as("va"))
        val b = e.select(col("label"), col("vec_id").as("id_b"), col("embedding").as("vb"))
        val exact = a.join(b, Seq("label")).filter(col("id_a") < col("id_b"))
          .select(col("id_a"), col("id_b"),
            round(Tables.cosineFast(col("va"), col("vb")) * 1000000, 0)
              .cast("long").as("sim_e6"))
          .filter(col("sim_e6") >= 300000)
          .select("id_a", "id_b").localCheckpoint()
        val nExact = exact.count()
        val exactT = a.join(b, Seq("label")).filter(col("id_a") < col("id_b"))
          .select(col("id_a"), col("id_b"),
            round(Tables.cosineFast(col("va"), col("vb")) * 1000000, 0)
              .cast("long").as("sim_e6"))
          .filter(col("sim_e6") >= 300000).localCheckpoint()
        val banded = SparkEntry.queries("q_embed_neardup_pairs")(spark, dir)
          .select("id_a", "id_b")
        val lsh = SparkEntry.queries("q_embed_neardup_lsh")(spark, dir)
          .select("id_a", "id_b")
        for (tier <- Seq(300000L, 500000L, 700000L, 800000L, 900000L)) {
          val ex = exactT.filter(col("sim_e6") >= tier).select("id_a", "id_b")
          val ne = ex.count()
          val bh = banded.join(ex, Seq("id_a", "id_b"), "left_semi").count()
          val lh = lsh.join(ex, Seq("id_a", "id_b"), "left_semi").count()
          println(s"[recall4] tier=$tier exact=$ne banded=${bh.toDouble / math.max(1, ne)} " +
            s"lsh=${lh.toDouble / math.max(1, ne)}")
        }
        // ANN batch recall@5 vs brute force
        val queries = e.filter(col("vec_id") % 100 === 0)
          .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
        val w = org.apache.spark.sql.expressions.Window.partitionBy("query_id")
          .orderBy(col("score_e6").desc, col("vec_id").asc)
        val brute = queries.crossJoin(e.select(col("vec_id"), col("embedding")))
          .select(col("query_id"), col("vec_id"),
            round(Tables.cosineFast(col("embedding"), col("qv")) * 1000000, 0)
              .cast("long").as("score_e6"))
          .withColumn("rk", row_number().over(w)).filter(col("rk") <= 5)
          .select("query_id", "vec_id").localCheckpoint()
        val nBrute = brute.count()
        val got = SparkEntry.queries("q_ivf_topk_batch")(spark, dir)
          .select("query_id", "vec_id")
        val annHit = got.join(brute, Seq("query_id", "vec_id"), "left_semi").count()
        println(s"[recall4] ann@5: brute=$nBrute hit=$annHit " +
          s"recall=${annHit.toDouble / math.max(1, nBrute)}")
      case "plant" =>
        // planted-twin recall at the adaptive geometry (basis for the
        // BenchScale recall-floor spec)
        import org.apache.spark.sql.functions._
        import graft.ops.{Tables, VectorOps}
        val dir = BenchScale.ensureScaled(spark,
          args.lift(1).getOrElse("/root/testdata/sf0.1"),
          args.lift(2).map(_.toInt).getOrElse(4))
        val e = Tables.t(spark, dir, "embeddings")
        val planted = e.filter(col("vec_id") % 10 === 0)
          .select((col("vec_id") + 1000000L).as("vec_id"), col("label"),
            transform(col("embedding"), (x, i) =>
              (x * (lit(1.0f) + when(pmod(i, lit(2)) === lit(0), lit(0.02f))
                .otherwise(lit(-0.02f)))).cast("float")).as("embedding"))
        val corpus = e.unionByName(planted).localCheckpoint()
        val n = corpus.count()
        println(s"[plant] n=$n bandBits=${VectorOps.adaptiveBandBits(n)} " +
          s"lshBits=${VectorOps.adaptiveLshBits(n)} nlist=${VectorOps.adaptiveNlist(n)}")
        val twins = e.filter(col("vec_id") % 10 === 0)
          .select(col("vec_id").as("id_a"), (col("vec_id") + 1000000L).as("id_b"))
          .localCheckpoint()
        val nTwin = twins.count()
        // sanity: twin cosine
        val tc = corpus.select(col("vec_id").as("id_a"), col("embedding").as("va"))
          .join(twins, "id_a")
          .join(corpus.select(col("vec_id").as("id_b"), col("embedding").as("vb")), "id_b")
          .select(Tables.cosineFast(col("va"), col("vb")).as("c"))
        println(s"[plant] twin cos min=${tc.agg(min("c")).head.getDouble(0)}")
        val banded = VectorOps.embedNeardupPairs(corpus, bands = 4,
          per = VectorOps.adaptiveBandBits(n)).select("id_a", "id_b")
        val bh = banded.join(twins, Seq("id_a", "id_b"), "left_semi").count()
        println(s"[plant] banded twin recall=${bh.toDouble / nTwin} ($bh/$nTwin)")
        val lsh = VectorOps.lshCandidatePairs(corpus,
            bits = 4 * VectorOps.adaptiveLshBits(n), bands = 4)
          .select(col("id_a"), col("id_b"),
            round(Tables.cosineFast(col("va"), col("vb")) * 1000000, 0)
              .cast("long").as("sim_e6"))
          .filter(col("sim_e6") >= 300000)
        val lh = lsh.join(twins, Seq("id_a", "id_b"), "left_semi").count()
        println(s"[plant] lsh twin recall=${lh.toDouble / nTwin} ($lh/$nTwin)")
        // ANN: write the planted corpus as a table dir, probe the batch face
        val tdir = s"target/tmp_plant/${java.lang.ProcessHandle.current.pid}"
        corpus.write.mode("overwrite").parquet(s"$tdir/embeddings.parquet")
        val got = SparkEntry.queries("q_ivf_topk_batch")(spark, tdir)
          .select("query_id", "vec_id")
        val qTwins = twins.select(col("id_a").as("query_id"), col("id_b").as("vec_id"))
          .filter(col("query_id") % 100 === 0)
        val union2 = qTwins.unionByName(
          qTwins.select(col("vec_id").as("query_id"), col("query_id").as("vec_id")))
        val ah = got.join(union2, Seq("query_id", "vec_id"), "left_semi").count()
        val nq = union2.count()
        println(s"[plant] ann twin-in-top5 recall=${ah.toDouble / nq} ($ah/$nq)")
      case "query" =>
        // run one registered query against an arbitrary table dir — the
        // repro loop for per-query failures the bench only reports tersely
        val (name, dir) = (args(1), args(2))
        val df = SparkEntry.queries(name)(spark, dir)
        val n = df.queryExecution.toRdd.count()
        println(s"[scratch] $name rows=$n")
      case "explain" =>
        // print one registered query's formatted plan against an arbitrary
        // table dir (the per-SF twin of `plans`; AQE off for readability),
        // then execute and print the final adaptive plan — what actually ran
        val (name, dir) = (args(1), args(2))
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        val df0 = SparkEntry.queries(name)(spark, dir)
        println(df0.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        val df1 = SparkEntry.queries(name)(spark, dir)
        df1.queryExecution.toRdd.count(): Unit
        println("=== final adaptive plan (executed) ===")
        println(df1.queryExecution.executedPlan.toString.take(8000))
      case "qtime" =>
        // split one registered query's wall time into construct (Scala
        // builder code incl. artifact ensures and driver collects),
        // plan (analysis+optimization+physical planning), and execute
        // (toRdd.count) — locates fixed driver latency the per-job
        // profile cannot see
        val (name, dir) = (args(1), args(2))
        val passes = args.lift(3).map(_.toInt).getOrElse(3)
        spark.sparkContext.setLogLevel("ERROR")
        // warm
        SparkEntry.queries(name)(spark, dir).queryExecution.toRdd.count(): Unit
        (1 to passes).foreach { p =>
          val t0 = System.nanoTime()
          val df = SparkEntry.queries(name)(spark, dir)
          val t1 = System.nanoTime()
          df.queryExecution.executedPlan // force analyze+optimize+plan
          val t2 = System.nanoTime()
          df.queryExecution.toRdd.count(): Unit
          val t3 = System.nanoTime()
          println(f"[qtime] $name pass=$p construct=${(t1 - t0) / 1e9}%.3f " +
            f"plan=${(t2 - t1) / 1e9}%.3f execute=${(t3 - t2) / 1e9}%.3f " +
            f"total=${(t3 - t0) / 1e9}%.3f s")
        }
      case "profile" =>
        // per-job/per-stage wall-time breakdown of one registered query:
        // a SparkListener records every job's submit→end span and its
        // stages' executor-side durations, so fixed multi-stage latency
        // claims (VERDICT r14 demerit 1) become numbers, not prose
        val (name, dir) = (args(1), args(2))
        val passes = args.lift(3).map(_.toInt).getOrElse(3)
        val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long)]()
        val stages = new java.util.concurrent.ConcurrentLinkedQueue[(Int, String, Long, Int)]()
        val listener = new org.apache.spark.scheduler.SparkListener {
          private val t0 = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
          override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
            t0.put(j.jobId, System.nanoTime()): Unit
          override def onJobEnd(j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
            val s = Option(t0.get(j.jobId)).getOrElse(0L)
            jobs.put(j.jobId, (s, System.nanoTime())): Unit
          }
          override def onStageCompleted(
              sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
            val si = sc.stageInfo
            val dur = (for {a <- si.completionTime; b <- si.submissionTime}
              yield a - b).getOrElse(-1L)
            stages.add((si.stageId, si.name.takeWhile(_ != '('), dur,
              si.numTasks)): Unit
          }
        }
        // warm pass (JIT, artifacts, page cache), then profiled passes
        spark.sparkContext.setLogLevel("ERROR")
        def force(df: org.apache.spark.sql.DataFrame): Unit =
          df.queryExecution.toRdd.count(): Unit
        force(SparkEntry.queries(name)(spark, dir))
        (1 to passes).foreach { p =>
          jobs.clear(); stages.clear()
          spark.sparkContext.addSparkListener(listener)
          val w0 = System.nanoTime()
          force(SparkEntry.queries(name)(spark, dir))
          val wall = (System.nanoTime() - w0) / 1e9
          Thread.sleep(300) // let the async listener bus drain
          spark.sparkContext.removeSparkListener(listener)
          import scala.jdk.CollectionConverters._
          val jlist = jobs.asScala.toSeq.sortBy(_._1)
          val jsum = jlist.map { case (_, (a, b)) => (b - a) / 1e9 }.sum
          println(f"[profile] $name pass=$p wall=$wall%.3f s, " +
            f"jobs=${jlist.size}, sum(job spans)=$jsum%.3f s")
          jlist.foreach { case (id, (a, b)) =>
            println(f"[profile]   job $id%3d  ${(b - a) / 1e9}%7.3f s")
          }
          stages.asScala.toSeq.sortBy(_._1).foreach { case (id, nm, d, nt) =>
            println(f"[profile]   stage $id%4d ${d / 1000.0}%7.3f s " +
              f"tasks=$nt%3d  $nm")
          }
        }
    }
    spark.stop()
  }
}
