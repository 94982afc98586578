package graft.tools

import org.apache.spark.sql.DataFrame
import graft.operators.Similarity

/** ANN parameter sweep (SURVEY §7 round-2 item): recall@k and candidate
  * volume for the LSH table/probe grid and the IVF probe budget against
  * the oracle-verified brute-force ground truth — "measure, don't
  * guess" for picking the recall/cost point.
  *
  * `runMain graft.tools.RecallSweep <sfDir>`
  */
object RecallSweep {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.Session(graft.Session.Cpus)

    val brute = Similarity.annBruteTopK(spark, sfDir)
      .select("q_id", "neighbor_id").cache()
    val denom = (brute.select("q_id").distinct().count() * Similarity.TopK).toDouble
    def recall(df: DataFrame): Double =
      brute.intersect(df.select("q_id", "neighbor_id")).count() / denom

    // `pq` as the 2nd arg restricts to the PQ family (the LSH/IVF grid
    // is corpus-sized work per point — skip it when tuning codebooks);
    // `opq` sweeps PQ vs OPQ across rerank pools — the codebook-quality
    // signal lives at SMALL pools (a large pool saturates recall on a
    // small corpus regardless of quantizer), so this mode shrinks the
    // pool axis instead of fixing it at PqRerank.
    val mode = args.lift(1)
    val pqOnly = mode.contains("pq")
    if (mode.contains("opq")) {
      println(f"${"variant"}%-28s recall@${Similarity.TopK}")
      for (rerank <- Seq(10, 20, 40, 80, 160, 320)) {
        val rPq = recall(Similarity.annPqTopKParams(spark, sfDir, rerank))
        val rOpq = recall(Similarity.annOpqTopKParams(spark, sfDir, rerank))
        println(f"pq  rerank=$rerank%-3d              $rPq%.2f")
        println(f"opq rerank=$rerank%-3d              $rOpq%.2f")
      }
      spark.stop()
      return
    }

    println(f"${"variant"}%-28s recall@${Similarity.TopK}")
    if (!pqOnly) {
      for (tables <- 1 to Similarity.LshTables; mp <- Seq(false, true)) {
        val r = recall(Similarity.annLshTopKParams(spark, sfDir, tables, mp))
        println(f"lsh tables=$tables mp=$mp%-5s        $r%.2f")
      }
      for (nProbe <- 1 to 5) {
        val r = recall(Similarity.annIvfTopKParams(spark, sfDir, nProbe))
        println(f"ivf nProbe=$nProbe               $r%.2f")
      }
      val r2 = recall(Similarity.annIvfLearnedTopK(spark, sfDir))
      println(f"ivf learned nProbe=${Similarity.IvfNProbe}       $r2%.2f")
    }
    for (rerank <- Seq(10, 20, 40, 80, 160, 320)) {
      val r = recall(Similarity.annPqTopKParams(spark, sfDir, rerank))
      println(f"pq rerank=$rerank%-3d              $r%.2f")
    }
    val rIvfPq = recall(Similarity.annIvfPqTopK(spark, sfDir))
    println(f"ivfpq rerank=${Similarity.PqRerank}             $rIvfPq%.2f")
    spark.stop()
  }
}
