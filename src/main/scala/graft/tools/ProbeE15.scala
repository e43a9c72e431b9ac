package graft.tools

import graft._
import org.apache.spark.sql.functions._

/** Measures the INTRINSIC cost drivers of the incremental/stream dedup
  * rows (d10/e15), whose sf10 wall grew ~4.6× per decade: the band-join
  * candidate pair count (the pre-verify output every admissible program
  * must touch) is a corpus property — on this synthetic corpus the
  * near-dup pair density rises with corpus size as the shingle
  * vocabulary saturates — so wall growth should be read against it, the
  * ProbeD07 method applied to the incremental family. Run over several
  * corpora to adjudicate:
  *   ProbeE15 <sfDir> [sfDir ...]
  */
object ProbeE15 {
  def main(args: Array[String]): Unit = {
    val spark = Session.get("probe-e15")
    val D = graft.operators.Dedup
    args.foreach { dir =>
      val docs = Tables.load(spark, dir, "documents")
      val incoming = docs.where(col("doc_id") % D.IncrementalMod === 0)
        .select(col("doc_id"), col("text"))
      val idx = D.DedupSig.serve(spark, dir)
      val shInc = D.shinglesOf(incoming)
      val sigInc = D.lshSignatures(shInc)
      val nInc = incoming.count()
      val nIdx = idx.count()
      val t0 = System.nanoTime()
      // d10's match side is the existing-only index; e15's is the full
      // index (corpus + all stream batches, self-pairs removed) — the
      // admissibility predicate then filters, so these counts UPPER-bound
      // both programs' verify input identically to what they execute.
      val candD10 = D.bandCandidates(sigInc,
          idx.where(col("doc_id") % D.IncrementalMod =!= 0), canonical = false)
        .count()
      val candE15 = D.bandCandidates(sigInc, idx, canonical = false)
        .where(col("doc_a") =!= col("doc_b"))
        .count()
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"[probe] $dir%s  incoming=$nInc%d index=$nIdx%d " +
        f"candD10=$candD10%d candE15=$candE15%d  ($secs%.1f s)")
      sigInc.unpersist(false)
      shInc.unpersist(false)
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
