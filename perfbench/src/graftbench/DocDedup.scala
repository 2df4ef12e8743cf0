package graftbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.functions.{MinHashExpression, NormalizeExpression}
import graft.pipeline.{Dedup, TextAnalysis}

/** The LLM-data half of the code: exact and near-duplicate detection,
  * BPE vocabulary learning and incremental LSH index maintenance on a
  * seeded corpus with planted near-duplicates (copies that drop one word)
  * and exact copies. Set-up writes the corpus to parquet; each round
  * builds the base LSH index and folds a fresh seeded delta into it. */
object DocDedup extends Workload {
  val name = "doc-dedup"

  val Originals = 1000
  val DeltaDocs = 40
  val Vocabulary = 4000
  val Threshold = 0.5
  /** Share of planted pairs MinHash-LSH must put in one cluster. Its
    * signatures are a randomised estimate, so a planted pair can miss its
    * band; every other part of its output is checked exactly. */
  val MinRecall = 0.99
  val BpeMerges = 6
  val Index = "bench_idx"

  val Ops: Seq[String] = Seq("pipeline.exact", "pipeline.minhash", "pipeline.simhash",
    "pipeline.ngram_pairs", "pipeline.edit_pairs", "pipeline.bpe_learn", "pipeline.lsh_build",
    "pipeline.lsh_incremental", "pipeline.lsh_append", "functions.quality")

  private def long(r: Row, i: Int): Long = r.get(i).asInstanceOf[Number].longValue

  /** (id, rep) cluster rows as a map, if every doc appears once and the
    * reps are the cluster minima. */
  private def clusters(rows: Array[Row], ids: Set[Long]): Option[Map[Long, Long]] = {
    val rep = rows.map(r => long(r, 0) -> long(r, 1)).toMap
    val ok = rep.size == rows.length && rep.keySet == ids &&
      rep.forall { case (i, r) => r <= i && rep.get(r).contains(r) }
    if (ok) Some(rep) else None
  }

  /** Share of `pairs` that `rep` puts in one cluster. */
  private def recall(rep: Map[Long, Long], pairs: Seq[(Long, Long)]): Double =
    pairs.count { case (a, b) => rep(a) == rep(b) }.toDouble / pairs.size

  /** The library's MinHash signatures of `docs`, with the parameters
    * `minHashLSH` runs at (3-word shingles, 64 hashes). */
  private def signatures(h: Harness, docs: Seq[(Long, String)]): Map[Long, Seq[Long]] = {
    val spark = h.spark
    import spark.implicits._
    docs.toDF("doc_id", "text")
      .select(col("doc_id"), Dedup.wordShingles(col("text"), 3).as("sh"))
      .filter(size(col("sh")) > 0)
      .select(col("doc_id"), MinHashExpression.minHashSignature(col("sh"), 64, poly = true))
      .collect().map(r => long(r, 0) -> r.getSeq[Long](1)).toMap
  }

  /** MinHash-LSH output check: well-formed clusters equal to the LSH
    * reference over the library's signatures (16 bands of 4 slots), with
    * at least [[MinRecall]] of `pairs` in one cluster. */
  private def lshOk(h: Harness, op: String, rows: Array[Row], ids: Set[Long],
                    reference: Map[Long, Long], pairs: Seq[(Long, Long)]): Boolean =
    clusters(rows, ids).exists { rep =>
      val r = recall(rep, pairs)
      if (r < 1.0) h.log(f"$op: $r%.4f of ${pairs.size} planted pairs share a cluster")
      rep == reference && r >= MinRecall
    }

  /** One seeded corpus written to parquet, plus the driver-side
    * references its outputs are checked against. */
  final class Input(h: Harness, seed: Long, vocab: Inputs.Vocabulary) {
    val path = s"${h.args.workDir}/documents.parquet"
    val corpus: Inputs.Corpus = Inputs.corpus(Inputs.subSeed(seed, "corpus"), vocab, Originals, 1L)
    def docs: Array[(Long, String)] = corpus.docs
    lazy val texts: Map[Long, String] = docs.toMap
    lazy val ids: Set[Long] = docs.map(_._1).toSet
    val planted: Seq[(Long, Long)] = corpus.nearPairs.toSeq ++ corpus.exactPairs
    lazy val exactGroups: Map[Long, Long] =
      docs.groupBy { case (_, t) => Reference.norm(t) }.values
        .map(g => g.map(_._1).min -> g.length.toLong).toMap
    lazy val shingles: Map[Long, Set[String]] = texts.map { case (i, t) => i -> Reference.shingles(t) }
    lazy val merges: Seq[(String, String, Long)] = Reference.bpe(docs.map(_._2).toSeq, BpeMerges)
    lazy val sigs: Map[Long, Seq[Long]] = signatures(h, docs.toSeq)
    lazy val lshClusters: Map[Long, Long] = Reference.lshClusters(sigs, 4, Threshold)
    private val firstDelta = docs.map(_._1).max + 1
    private var nDeltas = 0

    def nextDelta(): Inputs.Corpus = {
      val d = Inputs.delta(Inputs.subSeed(seed, s"delta$nDeltas"), vocab, docs, DeltaDocs,
        firstDelta + nDeltas * 2L * DeltaDocs)
      nDeltas += 1
      d
    }

    def write(): Unit = {
      val spark = h.spark
      import spark.implicits._
      docs.toSeq.toDF("doc_id", "text").repartition(h.cores).write.mode("overwrite").parquet(path)
      spark.read.parquet(path).agg(count(lit(1)), sum(length($"text"))).collect()
    }
  }

  def run(h: Harness): Seq[(String, Double, String)] = {
    val seed = Inputs.subSeed(h.args.seed, name)
    val vocab = new Inputs.Vocabulary(Inputs.subSeed(seed, "vocabulary"), Vocabulary)
    var in: Input = null
    (1 to h.setupReps).foreach { _ =>
      h.setup {
        in = new Input(h, seed, vocab)
        in.write()
      }
    }
    h.log(s"$name: ${in.docs.length} documents, ${in.planted.size} planted duplicate pairs")
    val nRounds = h.rounds(_ => round(h, in))
    if (h.trace.isDefined)
      h.layerMetric("pipeline.minhash.verified_frac", verifiedFrac(h.spark.read.parquet(in.path)))
    h.finishRounds(Ops, nRounds)
  }

  private def round(h: Harness, in: Input): Unit = {
    val spark = h.spark
    import spark.implicits._
    import in._
    val df = spark.read.parquet(path)
    def run(op: String)(f: => DataFrame): Option[Array[Row]] = h.op(op)(f.collect())

    run("pipeline.exact")(Dedup.exact(df)).foreach { rows =>
      h.check("pipeline.exact")(rows.map(r => long(r, 0) -> long(r, 1)).toMap == exactGroups)
    }
    run("pipeline.minhash")(Dedup.minHashLSH(df, threshold = Threshold, poly = true))
      .foreach { rows =>
        h.check("pipeline.minhash")(lshOk(h, "pipeline.minhash", rows, ids, lshClusters, planted))
      }
    run("pipeline.simhash")(Dedup.simHashDedup(df, maxHamming = 3, poly = true)).foreach { rows =>
      h.check("pipeline.simhash") {
        clusters(rows, ids).exists(rep => recall(rep, corpus.exactPairs.toSeq) == 1.0)
      }
    }
    run("pipeline.ngram_pairs")(Dedup.ngramJaccardPairs(df, threshold = Threshold)).foreach { rows =>
      h.check("pipeline.ngram_pairs") {
        val got = rows.map(r => (math.min(long(r, 0), long(r, 1)), math.max(long(r, 0), long(r, 1))) ->
          r.getDouble(2)).toMap
        got.forall { case ((a, b), j) =>
          j >= Threshold && math.abs(j - Reference.jaccard(shingles(a), shingles(b))) <= 1e-9
        } && planted.forall(p => got.contains(p))
      }
    }
    run("pipeline.edit_pairs")(Dedup.editDistancePairs(df, maxDist = 8, q = 5)).foreach { rows =>
      h.check("pipeline.edit_pairs") {
        val got = rows.map(r => (math.min(long(r, 0), long(r, 1)), math.max(long(r, 0), long(r, 1))) ->
          long(r, 2)).toMap
        got.forall { case ((a, b), d) => d <= 8 && d == Reference.levenshtein(texts(a), texts(b)) } &&
          planted.forall(p => got.contains(p))
      }
    }
    run("pipeline.bpe_learn")(TextAnalysis.bpeLearn(df, BpeMerges)).foreach { rows =>
      h.check("pipeline.bpe_learn") {
        rows.sortBy(_.getInt(0)).toSeq.map(r => (r.getString(1), r.getString(2), long(r, 4))) == merges &&
          rows.forall(r => r.getString(3) == r.getString(1) + r.getString(2))
      }
    }

    // index maintenance: build the base index, fold a fresh delta in
    // read-only, then commit it; both merges must equal a full recompute
    // over base ∪ delta and the LSH reference over the same docs
    h.op("pipeline.lsh_build")(Dedup.saveLshIndex(df, Index, threshold = Threshold,
      poly = true, buckets = h.cores))
    val delta = nextDelta()
    val deltaDf = delta.docs.toSeq.toDF("doc_id", "text")
    lazy val union = Dedup.minHashLSH((docs.toSeq ++ delta.docs).toDF("doc_id", "text"),
        threshold = Threshold, poly = true)
      .collect().map(r => long(r, 0) -> long(r, 1)).toMap
    lazy val unionReference = Reference.lshClusters(sigs ++ signatures(h, delta.docs.toSeq), 4, Threshold)
    def mergedOk(op: String, rows: Array[Row]): Unit = h.check(op) {
      rows.map(r => long(r, 0) -> long(r, 1)).toMap == union &&
        lshOk(h, op, rows, ids ++ delta.docs.map(_._1), unionReference, planted ++ delta.nearPairs)
    }
    run("pipeline.lsh_incremental")(
      Dedup.incrementalMinHashLSH(spark, Index, deltaDf, threshold = Threshold, poly = true)
    ).foreach(rows => mergedOk("pipeline.lsh_incremental", rows))
    run("pipeline.lsh_append")(
      Dedup.appendToLshIndex(spark, Index, deltaDf, threshold = Threshold, poly = true)
    ).foreach(rows => mergedOk("pipeline.lsh_append", rows))

    h.op("functions.quality") {
      TextAnalysis.qualityScore(df)
        .select($"doc_id", $"n_tokens", $"quality",
          NormalizeExpression.nfkc($"text").as("nfkc"), Dedup.simHash($"text", poly = true).as("sh"))
        .write.format("noop").mode("overwrite").save()
    }.foreach { _ =>
      h.check("functions.quality") {
        TextAnalysis.qualityScore(df).select($"doc_id", $"n_tokens", $"quality").collect().forall { r =>
          val q = r.getDouble(2)
          r.getInt(1) == texts(long(r, 0)).trim.split("\\s+").length && q >= 0.0 && q <= 1.0
        }
      }
    }
  }

  /** Verified pairs over LSH candidate pairs for the corpus, with the
    * parameters `minHashLSH` runs at (64 hashes in 16 bands of 4). */
  private def verifiedFrac(df: DataFrame): Double = {
    val sigs = df.select(col("doc_id").as("id"), Dedup.wordShingles(col("text"), 3).as("sh"))
      .filter(size(col("sh")) > 0)
      .select(col("id"), MinHashExpression.minHashSignature(col("sh"), 64, poly = true).as("sig"))
      .cache()
    val cands = Dedup.lshCandidates(sigs, "id", "sig", bands = 16, rowsPerBand = 4, poly = true).cache()
    val nCands = cands.count()
    val verified = cands
      .join(sigs.toDF("a", "sa"), "a").join(sigs.toDF("b", "sb"), "b")
      .filter(Dedup.estimatedJaccard(col("sa"), col("sb")) >= Threshold).count()
    cands.unpersist(); sigs.unpersist()
    if (nCands == 0) 0.0 else verified.toDouble / nCands
  }
}
