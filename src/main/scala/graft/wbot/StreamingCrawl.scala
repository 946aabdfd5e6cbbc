package graft.wbot

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/**
 * Structured-Streaming skin over the batch superstep engine (SURVEY.md
 * §2.10 / §7.8): a stream of seed URLs drives the same deterministic
 * frontier-expansion pipeline via `foreachBatch` — each micro-batch of seeds
 * runs a full crawl against the pages snapshot and writes the stream
 * (order) and seen rows to parquet sinks, one `batch_id=<id>` directory per
 * micro-batch. A batch replayed after a driver failure (its offsets logged,
 * its commit not) overwrites its own directories, so its rows land once.
 * No stateful streaming operators
 * are needed: all crawl state lives in the engine's tables, which is what
 * makes the crawl order reproducible (and the reference has no event-time
 * semantics to model — `crawler.go:195-291` is a pull loop).
 *
 * Use `Trigger.AvailableNow` for drain-and-stop semantics or a processing-
 * time trigger for a continuous service.
 */
object StreamingCrawl {

  /**
   * @param seedStream streaming DataFrame with a `value: String` column of
   *                   seed URLs (file source, Kafka value, MemoryStream…)
   * @param invalidSeedsAreFatal the reference aborts a Run on any invalid
   *                   seed (crawler.go:124-126); a long-running service can
   *                   choose to skip a batch with an invalid seed instead
   *                   (any other failure still fails the query)
   */
  def start(spark: SparkSession, seedStream: DataFrame, pagesPrep: DataFrame,
      cfg: Schemas.CrawlConfig, outDir: String, checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow(),
      invalidSeedsAreFatal: Boolean = true): StreamingQuery = {
    seedStream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val seeds = batch.select("value").collect().map(_.getString(0)).toSeq
        // only an invalid-seed batch is skipped: every other failure, the
        // engine's own included, fails the query
        if (seeds.nonEmpty) SparkCrawler.parseSeeds(seeds) match {
          case Left(e) if !invalidSeedsAreFatal =>
            System.err.println(s"[streaming-crawl] batch $batchId skipped: $e")
          case _ =>
            val run = SparkCrawler.runPrepared(spark, pagesPrep, seeds, cfg)
            // the batch's stores go once its rows are written, not when the
            // run is next collected: a long-running stream would otherwise
            // hold them until the driver's next GC
            try {
              run.order.write.mode("overwrite").parquet(s"$outDir/crawled/batch_id=$batchId")
              run.seen.write.mode("overwrite").parquet(s"$outDir/seen/batch_id=$batchId")
            } finally run.release()
        }
        ()
      }
      .start()
  }
}
