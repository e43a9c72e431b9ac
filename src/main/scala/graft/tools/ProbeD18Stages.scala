package graft.tools
import graft._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Stage-level warm-CPU decomposition of the d18 sketch path (r18 §1
  * measure-first): materializes the served-h60 frame once (as the warm
  * min-of-3 runs see it), then times each downstream stage — anchors,
  * df-capped index, probe join, exact verify — in executor CPU, twice
  * (second pass = warm). Usage: ProbeD18Stages <sfDir> */
object ProbeD18Stages {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = Session.get("probe-d18-stages")
    CpuMeter.install(spark)
    val D = graft.operators.Dedup
    def cpuOf(label: String)(df: => DataFrame): Unit = {
      val (c0, _) = CpuMeter.snapshot(spark)
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      val (c1, _) = CpuMeter.snapshot(spark)
      println(f"[probe-stage] $label%-28s wall ${wall}%6.2f s  cpu ${c1 - c0}%7.2f s")
    }
    (1 to 2).foreach { pass =>
      println(s"=== pass $pass ===")
      val h60 = D.persistOnce(D.H60.serve(spark, dir))
      cpuOf("h60 materialize")(h60)
      val trainHs = h60.where(col("doc_id") % 10 =!= 0)
      val evalHs = h60.where(col("doc_id") % 10 === 0)
      val anchors = evalHs.groupBy(col("doc_id"))
        .agg(slice(array_sort(collect_list(col("h"))), 1, D.ContamAnchorK).as("anchor_hs"))
        .select(col("doc_id").as("eval_id"), explode(col("anchor_hs")).as("h"),
          least(lit(D.ContamMinAnchorHits), size(col("anchor_hs")).cast("long")).as("need"))
      cpuOf("anchors (eval bottom-K)")(anchors)
      val dfOk = trainHs.groupBy(col("h")).agg(count(lit(1)).as("df"))
        .where(col("df") <= D.ContamDfCap).select(col("h"))
      cpuOf("dfOk (train df cap)")(dfOk)
      val index = trainHs.join(dfOk, Seq("h"), "left_semi")
        .select(col("doc_id").as("train_id"), col("h"))
      cpuOf("index (semi-join)")(index)
      val cand = D.persistOnce(D.contamSketchCandidates(evalHs, trainHs, D.ContamDfCap))
      cpuOf("candidates (full probe)")(cand)
      println(s"[probe-stage] cand rows = ${cand.count()}")
      val evT = evalHs.join(cand.select(col("eval_id").as("doc_id")).distinct(),
        Seq("doc_id"), "left_semi")
      cpuOf("evT semi-join")(evT)
      val trT = trainHs.join(cand.select(col("train_id").as("doc_id")).distinct(),
        Seq("doc_id"), "left_semi")
      cpuOf("trT semi-join")(trT)
      val evalSizes = evT.groupBy(col("doc_id").as("eval_id"))
        .agg(count(lit(1)).as("n_eval"))
      cpuOf("evalSizes")(evalSizes)
      val shared = cand.as("c")
        .join(evT.as("e"), col("c.eval_id") === col("e.doc_id"))
        .join(trT.as("t"),
          col("c.train_id") === col("t.doc_id") && col("e.h") === col("t.h"))
        .groupBy(col("c.eval_id").as("eval_id"), col("c.train_id").as("train_id"))
        .agg(count(lit(1)).as("shared"))
      cpuOf("shared join")(shared)
      cpuOf("pairs (verify tail)")(
        D.contaminationSketchPairsHashed(trainHs, evalHs, D.ContamDfCap))
      cpuOf("d18 full")(D.queries("d18_contamination_sketch")(spark, dir))
      cpuOf("d19 full")(D.queries("d19_decontaminate_sketch")(spark, dir))
    }
    spark.stop()
  }
}
