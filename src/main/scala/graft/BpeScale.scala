package graft

import org.apache.spark.sql.functions._

import scala.util.control.NonFatal

/** BPE trainer at PRODUCTION VOCAB SCALE (VERDICT r13 #8): the batch guard
  * is proven exact to 512 merges on the test corpus (which exhausts at 89
  * learnable merges), but a real tokenizer train is 32k merges — thousands
  * of driver round-trips if batching degenerates. This main measures a
  * ≥4k-merge train with batch ≥256 on a synthetic corpus rich enough to
  * sustain it, and writes the wall/round-trip numbers as a committed
  * artifact (BPE_SCALE.json).
  *
  * The corpus is deterministic (no Date/random): ~`nWords` distinct
  * base-26 words derived from xxhash64 of a range id, one word per
  * document row — wordVocab collapses repetition into counts, so corpus
  * size beyond distinctness only scales the ONE wordVocab aggregation,
  * not the training rounds. Two count DISTRIBUTIONS (flat and Zipf) —
  * and the r14 measurement shows both collapse to ~2 merges/round, so
  * the narrow admission is STRUCTURAL, not distributional: early in
  * training every symbol is one of ~26 characters, the top-ranked pairs
  * densely share symbols, and the exactness guard must end the batch at
  * the first candidate whose count does not dominate every
  * symbol-sharing pair (those counts genuinely change when the batch
  * applies — the guard is sound, just priced). Production 32k trains
  * want a relaxed batch-local-recount mode (industry standard, not
  * bit-identical to sequential); this artifact is the measured case for
  * it. Oracle machinery is untouched: this measures the same
  * trainBatchedCounted the x-family defs gate-check at small scale.
  */
object BpeScale {

  def main(args: Array[String]): Unit = {
    val dist = args.headOption.getOrElse("zipf") // zipf | flat
    val nWords = args.lift(1).map(_.toInt).getOrElse(60000)
    val nMerges = args.lift(2).map(_.toInt).getOrElse(4096)
    val batch = args.lift(3).map(_.toInt).getOrElse(256)
    val mode = args.lift(4).getOrElse("exact") // exact | relaxed
    val spark = GraftSession.getOrCreate()
    val words = spark.range(0, nWords.toLong)
      .select(col("id"),
        conv(shiftrightunsigned(xxhash64(col("id")), 1).cast("string"),
          10, 26).as("word"))
    val reps = dist match {
      case "flat" => lit(1) + pmod(xxhash64(col("word")), lit(16)).cast("int")
      case _ => greatest(lit(1),
        (lit(20000.0) / pow(col("id").cast("double") + 2.0, 1.05)).cast("int"))
    }
    val docs = words
      .select(col("word"), explode(sequence(lit(1), reps)).as("rep"))
      .select(col("word").as("text"))
    val nDocs = docs.count()
    val t0 = System.nanoTime()
    val (model, rounds) =
      if (mode == "relaxed") llm.Bpe.trainBatchedRelaxedCounted(docs, nMerges, batch)
      else llm.Bpe.trainBatchedCounted(docs, nMerges, batch)
    val wall = (System.nanoTime() - t0) / 1e9
    val learned = model.merges.size
    val line =
      f"""{"dist":"$dist","mode":"$mode","n_distinct_words":$nWords,"n_word_instances":$nDocs,"merges_requested":$nMerges,"merges_learned":$learned,"batch":$batch,"rounds":$rounds,"avg_realized_batch":${learned.toDouble / rounds}%.1f,"roundtrips_per_merge":${rounds.toDouble / learned}%.4f,"wall_sec":$wall%.1f,"sec_per_merge":${wall / learned}%.4f}"""
    println(line)
    val out = sys.env.getOrElse("SPARK_GRAFT_BPE_OUT",
      s"/root/repo/BPE_SCALE_$dist${if (mode == "relaxed") "_relaxed" else ""}.json")
    try {
      val w = new java.io.PrintWriter(out)
      try w.println(line) finally w.close()
    } catch { case NonFatal(e) => System.err.println(s"[bpe-scale] $out: ${e.getMessage}") }
    spark.stop()
  }
}
