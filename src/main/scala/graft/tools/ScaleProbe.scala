package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** N× scale probe: synthesize an N×-source dataset (at 10×: 6M lineitem
  * rows, 1M events over 1500 users, 50k documents, 20k embeddings) and
  * time the headline operators. Copies offset their keys so FK
  * integrity holds and key cardinality (not per-key density) scales —
  * the realistic corpus growth shape. Offsets are derived from the
  * SOURCE's actual max ids, so probes COMPOSE: pointing
  * SPARK_GRAFT_PROBE_SRC at a previous probe's output multiplies it
  * again (1000× = 10× of the 100× output) without a thousand-way union
  * plan.
  *
  * SPARK_GRAFT_PROBE_DUP ∈ [0,1] (default 1.0) controls what fraction
  * of copied documents/embeddings are NEAR-DUPLICATES of their source
  * row; the rest are rewritten to be genuinely novel (word-tagged text
  * / component-rotated vectors). At the 1.0 default every doc gains
  * N−1 near-dup copies and the near-dup queries' output is enormous
  * (~N·n true pairs) — that measures the corpus, not the plan; at a
  * realistic 0.01, pair output stays small and the probe isolates plan
  * cost (VERDICT r7 #6).
  *
  * Emits BOTH human-readable "PROBE name sec rows" lines and a
  * structured artifact at $Out/probe.json (per-query sec/rows/ok/error
  * — a mid-list crash can hide in grep'd stdout but not in the
  * artifact; copy it to PROBE_rN.json). Diff two artifacts with
  * tools/compare_bench.py --probe.
  *
  * Run: sbt "runMain graft.tools.ScaleProbe" (default N=10, src
  * sf0.1, out /tmp/scale$N) or "runMain graft.tools.ScaleProbe 100
  * q02_agg ..." (N=100, explicit target list). Env overrides:
  * SPARK_GRAFT_PROBE_SRC (source dir), SPARK_GRAFT_PROBE_OUT (output
  * dir), SPARK_GRAFT_PROBE_DUP (near-dup fraction), SPARK_GRAFT_CPUS
  * (local cores = shuffle partitions, default nproc).
  */
object ScaleProbe {
  /** Fraction of vectors planted at controlled cosine (the hard band). */
  private val HardFrac = 0.02

  def main(args: Array[String]): Unit = {
    val N = args.headOption.flatMap(a => scala.util.Try(a.toInt).toOption).getOrElse(10)
    val dupFrac = sys.env.get("SPARK_GRAFT_PROBE_DUP").map(_.toDouble).getOrElse(1.0)
    require(dupFrac >= 0.0 && dupFrac <= 1.0, s"SPARK_GRAFT_PROBE_DUP=$dupFrac out of [0,1]")
    val defaultOut = if (dupFrac >= 1.0) s"/tmp/scale$N"
      else s"/tmp/scale${N}d${math.round(dupFrac * 100)}"
    val Out = sys.env.getOrElse("SPARK_GRAFT_PROBE_OUT", defaultOut)
    // one shuffle partition per core (Graft.session's sizing): at 1000×
    // (600M lineitem rows, 64g heap) raising it 10× helped the
    // orders⋈lineitem spill only 15% (82→70 s) but cost the wide fan-out
    // aggregations 1.4–3× (q08 60→182 s, q09 23→31 s, sim4 33→62 s) —
    // on a SINGLE-DISK local node more partitions just means more,
    // smaller spill files and more random IO
    val cores = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val spark = graft.Graft.session(master = s"local[$cores]", shufflePartitions = cores,
      appName = "ScaleProbe")
    spark.sparkContext.setLogLevel("ERROR")
    val src = sys.env.getOrElse("SPARK_GRAFT_PROBE_SRC", "/root/testdata/sf0.1")

    def copies(df: DataFrame)(f: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until N).map(i => f(df, i)).reduce(_ union _)

    // per-table id stride = next power of ten above the source's max id,
    // so copies never collide whatever the source's range is
    def stride(df: DataFrame, c: String): Long = {
      val mx = df.agg(max(col(c))).head().getLong(0)
      var s = 10L
      while (s <= mx) s *= 10
      s
    }

    // SPARK_GRAFT_PROBE_TABLES (csv, default all): limit datagen to the
    // tables a targeted probe actually reads — the ANN/maintenance
    // probes need only embeddings (+documents), and a 1000× lineitem
    // (600M rows, ~15 GB) generated alongside them is pure disk
    // pressure on a box also holding a 1B-event window corpus.
    val wantTables = sys.env.get("SPARK_GRAFT_PROBE_TABLES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    def want(t: String): Boolean = wantTables.forall(_.contains(t))

    var datagenSec = -1.0
    if (!new java.io.File(s"$Out/_done").exists()) {
      val t0 = System.nanoTime()
      if (want("lineitem") || want("orders")) {
        val li = graft.Tables.lineitem(spark, src)
        val okStride = stride(li, "l_orderkey")
        if (want("lineitem"))
          copies(li)((d, i) => d.withColumn("l_orderkey", col("l_orderkey") + lit(i * okStride)))
            .write.mode("overwrite").parquet(s"$Out/lineitem.parquet")
        val o = graft.Tables.orders(spark, src)
        if (want("orders"))
          copies(o)((d, i) => d.withColumn("o_orderkey", col("o_orderkey") + lit(i * okStride)))
            .write.mode("overwrite").parquet(s"$Out/orders.parquet")
      }
      if (want("events")) {
        val ev = graft.Tables.events(spark, src)
        val evStride = stride(ev, "event_id")
        val uStride = stride(ev, "user_id")
        copies(ev)((d, i) => d
            .withColumn("event_id", col("event_id") + lit(i * evStride))
            .withColumn("user_id", col("user_id") + lit(i * uStride)))
          .write.mode("overwrite").parquet(s"$Out/events.parquet")
      }
      // dup-rate knob (VERDICT r10 #3): copy i of doc d is a near-dup
      // iff xxhash64(doc_id, i) % 1000 < dupFrac·1000 AND the source
      // row is not itself already a near-dup copy (copymark in text).
      // The old selector (doc_id % 1000, no copymark guard) was
      // PRESERVED under composition — strides are powers of ten ≥ 1000
      // — so 1000× = 10× ∘ 100× re-dup'd exactly the docs that were
      // already dup'd and family size multiplied (100·10 members →
      // ~N² pair output that measured the corpus, not the plan). The
      // per-(id, i) hash decorrelates stages and the guard truncates
      // copy-of-copy chains, so true-pair count stays ∝ dup·n however
      // many times probes compose. Non-dup copies get every 3rd word
      // tagged with the copy index — NO 3-gram window survives
      // (period-3 tagging hits every window), so Jaccard vs the source
      // is ~0 and tagged copies of different i differ from each other.
      // Deterministic and composable (tags stack: w_c1_c2).
      val dupCut = math.round(dupFrac * 1000)
      if (want("documents")) {
        val docs = graft.Tables.documents(spark, src)
        val dStride = stride(docs, "doc_id")
        copies(docs)((d, i) =>
            (if (i == 0) d
             else d.withColumn("text",
               when(pmod(xxhash64(col("doc_id"), lit(i)), lit(1000)) < lit(dupCut)
                   && !col("text").contains(" copymark"),
                 concat(col("text"), lit(s" copymark$i")))
                 .otherwise(array_join(expr(
                   s"transform(split(text, ' '), (w, j) -> IF(j % 3 = 0, concat(w, '_c$i'), w))"), " "))))
              .withColumn("doc_id", col("doc_id") + lit(i * dStride)))
          .write.mode("overwrite").parquet(s"$Out/documents.parquet")
      }
      // embeddings: non-dup copies get a per-copy pseudo-random sign
      // flip on ~half the components (xxhash64(j, i) parity — avalanche
      // makes patterns independent across copies, unlike a modular
      // formula whose rotations correlate structurally) — cos vs the
      // source and vs any other copy is driven to the corpus's own
      // N(0, 1/d) background. Deterministic, and composable: flip
      // patterns multiply into new patterns. The dup fraction keeps
      // exact copies (cos = 1), selected by the same per-(id, i) hash
      // as documents so composition stages decorrelate (an exact copy
      // of an exact copy is still one family, and with per-copy
      // selection expected family size stays O(1) — a subcritical
      // branching process at realistic dup·N). NOTE the knob cannot
      // make embedding pair output arbitrarily small: at d = 64 a
      // random corpus has intrinsic P(cos ≥ 0.4) ≈ 5e-4, so incidental
      // pairs still grow ~quadratically in n — the knob removes the
      // PLANTED duplicates, which dominate at dup = 1.0.
      // HARD pairs (VERDICT r11 #3): a second hash window plants copies
      // at CONTROLLED cosine t ∈ {0.75, 0.85, 0.95} against the source —
      // v' = t·v̂ + √(1−t²)·ŵ·|v| with w = r − (r·v/|v|²)v the
      // orthogonalized ±1 pattern, so cos(v, v') = t exactly and |v'| =
      // |v|. Exact copies land in the source's own cells (recall 1.0 at
      // any depth — the round-11 curves were degenerate because ONLY
      // those and cos≈0 rewrites existed); hard pairs sit near cell
      // boundaries, so served recall genuinely degrades as nprobe drops
      // and the recall/nprobe curve carries information.
      // HardFrac is the hard fraction.
      // The hard band sits ABOVE the dup band; when dup+hard would
      // overflow the hash range the DUP band yields (ADVICE r12: the
      // old `dupCut + hard` layout silently truncated the hard band —
      // at the dupFrac=1.0 default sel<dupCut always won and the hard
      // fraction was ignored entirely). Effective plant fractions are
      // logged so an artifact's provenance is explicit.
      val hardCnt = math.round(HardFrac * 1000)
      val dupCutEmb = math.min(dupCut, 1000L - hardCnt)
      val hardCut = dupCutEmb + hardCnt
      println(s"PROBE plant (per-1000, embeddings): dup=$dupCutEmb hard=$hardCnt " +
        s"novel=${1000 - hardCut}")
      if (want("embeddings")) {
      val emb = graft.Tables.embeddings(spark, src)
      val vStride = stride(emb, "vec_id")
      copies(emb)((d, i) =>
          (if (i == 0) d
           else {
             val sel = pmod(xxhash64(col("vec_id"), lit(i)), lit(1000))
             d.withColumn("__vd", expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
              .withColumn("__r", expr(
                s"transform(sequence(0, size(embedding) - 1)," +
                  s" j -> IF(pmod(xxhash64(vec_id, $i, j), 2) = 0, 1.0D, -1.0D))"))
              .withColumn("__vv", graft.functions.VectorExprs.dot(col("__vd"), col("__vd")))
              .withColumn("__rv", graft.functions.VectorExprs.dot(col("__vd"), col("__r")))
              .withColumn("__w", expr("zip_with(__r, __vd, (rj, vj) -> rj - __rv / __vv * vj)"))
              .withColumn("__ww", greatest(
                graft.functions.VectorExprs.dot(col("__w"), col("__w")), lit(1e-12)))
              .withColumn("__t", element_at(
                array(lit(0.75), lit(0.85), lit(0.95)),
                (pmod(xxhash64(col("vec_id"), lit(i), lit(7)), lit(3)) + 1).cast("int")))
              .withColumn("embedding",
                when(sel < lit(dupCutEmb), col("embedding"))
                  .when(sel < lit(hardCut), expr(
                    "transform(zip_with(__vd, __w, (vj, wj) ->" +
                      " __t * vj + sqrt(1.0D - __t * __t) * sqrt(__vv / __ww) * wj)," +
                      " x -> CAST(x AS FLOAT))"))
                  .otherwise(expr(
                    s"transform(embedding, (x, j) -> IF(pmod(xxhash64(j, $i), 2) = 0, -x, x))")))
              .drop("__vd", "__r", "__vv", "__rv", "__w", "__ww", "__t")
           })
            .withColumn("vec_id", col("vec_id") + lit(i * vStride)))
        .write.mode("overwrite").parquet(s"$Out/embeddings.parquet")
      }
      for (t <- Seq("customer", "nation", "region", "supplier", "part") if want(t))
        graft.Tables.load(spark, src, t).write.mode("overwrite").parquet(s"$Out/$t.parquet")
      new java.io.File(s"$Out/_done").createNewFile()
      datagenSec = (System.nanoTime() - t0) / 1e9
      println(f"PROBE datagen $datagenSec%.1f s")
    }

    val defaults = Seq("q02_agg", "q04_join_chain", "q04b_join_chain_bucketed",
      "q07_tumbling_window",
      "q08_hopping_window", "q09_session_window", "q10_interval_join",
      "q12_ttl_default", "q13b_ttl_from_key", "q14_dedup_first", "q17_topk",
      "q22_batch_by_key", "q36_asof_join", "q37_window_backward_fetch",
      "q38_stratified_sample",
      "dd1_dedup_exact", "dd3_dedup_minhash_lsh", "dd5_dedup_simhash",
      "dd6_dedup_clusters", "sim1_ann_brute_topk", "sim2_ann_ivf_topk",
      "sim2b_ann_ivf_served", "sim3b_ann_kmeans_served", "sim4b_ann_pq_served",
      "sim4c_ann_ivfpq_served",
      "sim3_ann_ivf_kmeans", "sim4_ann_pq_topk", "td1_curation_pipeline",
      "td2_decontamination", "q35_deterministic_split",
      "q39_corpus_mix", "q40_sequence_packing", "q41_cdc_snapshot_diff",
      "dd7_dedup_embedding_ivf", "tx5_pii_redact", "tx6_repetition",
      "tx7_bigram_novelty", "dd8_dedup_substring", "q42_incremental_agg",
      "q44_suppress_final", "q45_doc_chunking", "q46_heavy_hitters",
      "dd9_semantic_dedup", "q47_topk_per_group", "q48_bloom_membership",
      "q49_reservoir_sample", "q50_inverted_index", "q51_tfidf_keywords",
      "q52_bloom_pruned_join", "q53_hll_cardinality", "dd10_line_dedup",
      "td3_chunk_pack_pipeline", "q54_window_distinct_hll", "q55_hll_set_ops",
      "q56_window_heavy_hitters")
    // Oracle-only plans (QueryDef.scalePath = false, e.g. dd2/dd4's
    // O(n²) baselines) are skipped unless explicitly named on the
    // command line — a full-registry probe must never hit a deliberate
    // quadratic wall.
    val byName = graft.SparkEntry.registry.map(q => q.name -> q).toMap
    val explicit = args.length > 1
    // "ScaleProbe N none" = datagen-only (build/extend a corpus for
    // other probes without timing any query)
    val requested =
      if (explicit) args.drop(1).toSeq.filterNot(_ == "none") else defaults
    val targets = requested.filter { n =>
      val keep = explicit || byName.get(n).forall(_.scalePath)
      if (!keep) println(s"PROBE $n SKIPPED (scalePath=false: oracle-only baseline)")
      keep
    }
    // structured results → $Out/probe.json: a mid-list crash shows as
    // ok=false in the artifact even when grep'd stdout looks clean (how
    // dd7's 100× wall went unnoticed for two rounds)
    final case class Res(sec: Double, rows: Long, error: Option[String])
    val results = scala.collection.mutable.LinkedHashMap.empty[String, Res]
    // Per-query isolation: drop the memoized intermediate
    // frames between queries. The memoized frames are
    // persist(MEMORY_AND_DISK) blocks that accumulate across the whole
    // list — at 100× the storage pool's residue plus one heavy query's
    // execution memory OOM'd a 48g heap mid-list (dd7, which runs clean
    // in a fresh JVM). Isolation also makes each number a STANDALONE
    // cost (td1/td3 pay their full dep chain) — comparable across runs,
    // not dependent on list order.
    for (name <- targets) {
      graft.operators.Memo.clearCaches(spark)
      val t0 = System.nanoTime()
      // per-query catch: one blown query (OOM, disk-full spill) must not
      // kill the rest of the list
      try {
        val n = graft.SparkEntry.queries(name)(spark, Out).count()
        val sec = (System.nanoTime() - t0) / 1e9
        results(name) = Res(sec, n, None)
        println(f"PROBE $name%-28s $sec%7.2f s  rows=$n")
      } catch {
        case e: Throwable =>
          val sec = (System.nanoTime() - t0) / 1e9
          results(name) = Res(sec, -1L, Some(String.valueOf(e.getMessage).take(200)))
          println(f"PROBE $name%-28s FAILED after $sec%.1f s: " +
            String.valueOf(e.getMessage).take(200))
      }
    }
    def q(v: String) = "\"" + v.replace("\\", "\\\\").replace("\"", "\\\"")
      .replaceAll("[\\n\\r\\t]", " ") + "\""
    val qjson = results.map { case (name, r) =>
      val err = r.error.map(e => s",\"error\":${q(e)}").getOrElse("")
      f"${q(name)}:{" + f""""sec":${r.sec}%.2f,"rows":${r.rows},"ok":${r.error.isEmpty}$err}"""
    }.mkString(",")
    val meta = f""""n":$N,"dup":$dupFrac,"src":${q(src)},"out":${q(Out)},""" +
      f""""shuffle_partitions":$cores,"datagen_sec":$datagenSec%.1f,""" +
      s""""isolated":true,""" +
      s""""failed":${results.count(_._2.error.isDefined)},"ran":${results.size}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$Out/probe.json"),
      s"{$meta,\"queries\":{$qjson}}\n")
    println(s"PROBE artifact $Out/probe.json (${results.size} queries, " +
      s"${results.count(_._2.error.isDefined)} failed)")
    spark.stop()
  }
}
