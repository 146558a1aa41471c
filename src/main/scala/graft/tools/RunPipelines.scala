package graft.tools

import graft.core.GraftSession
import graft.pipelines.{GoldContext, Registry, TimeWindow}
import graft.streaming.BronzeStream

/** Gold-build CLI — the Spark equivalent of the reference's
  * `airflow dags trigger -c '{"start_ts":…,"end_ts":…,"pipeline_id":…}'`
  * backfill entrypoint (/root/reference/README.md:113-125).
  *
  * Usage:
  *   runMain graft.tools.RunPipelines WAREHOUSE_DIR [start end] [pipelines...]
  *   runMain graft.tools.RunPipelines WAREHOUSE_DIR ingest FILE...   # JSON lines → bronze
  *
  * With no window, runs the default [now-10m, now) incremental window
  * (postgres/init/10_metadata.sql:53).
  */
object RunPipelines {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: RunPipelines WAREHOUSE_DIR [start end] [ids...]")
    val spark = GraftSession.local()
    val ctx = new GoldContext(spark, args(0))

    if (args.length > 1 && args(1) == "acceptance") {
      // the reference's Superset/example queries over the gold views
      graft.queries.GoldViews.runAcceptance(ctx).foreach { case (name, df) =>
        println(s"== $name")
        df.show(10, false)
      }
    } else if (args.length > 1 && args(1) == "ingest") {
      val raw = spark.read.text(args.drop(2).toIndexedSeq: _*).toDF("raw")
      BronzeStream.fanOut(raw, ctx.root).foreach(src => println(s"ingested $src"))
    } else {
      val (window, rest) =
        if (args.length >= 3 && args(1).contains("-"))
          (TimeWindow.of(args(1), args(2)), args.drop(3))
        else (TimeWindow.lastMinutes(10), args.drop(1))
      val only = if (rest.isEmpty) None else Some(rest.toSet)
      // GRAFT_PIPELINE_METADATA points at a JSON overlay re-read per run —
      // edit it between cadence ticks to enable/disable/rewire pipelines
      // without redeploy (metadata_updater.py's 10-minute refresh).
      val stats = Registry.run(ctx, window, only,
        metadataPath = sys.env.get("GRAFT_PIPELINE_METADATA"))
      stats.foreach { s =>
        println(f"${s.pipelineId}%-28s before=${s.rowsBefore}%-8d " +
          f"appended=${s.rowsAppended}%-8d after=${s.rowsAfter}%-8d ${s.durationMs} ms")
      }
    }
    spark.stop()
  }
}
