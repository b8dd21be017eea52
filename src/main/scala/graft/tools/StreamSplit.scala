package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.util.Fixtures

/** Stage-split attribution for the streaming parity rows the r13
  * verdict flagged (stream_upsert_parity 3.35→8.15 s and siblings,
  * 2.1–2.4× their r12 medians with no operator code change). Each arm
  * isolates one layer of a parity row's cost on THIS machine:
  *
  *  - `noop_stream`     — a streaming query over the staged files with
  *    NO stateful operator and a no-op foreachBatch: the pure
  *    micro-batch machinery floor (offset WAL, commit log, planning,
  *    4 triggers of source listing + scan).
  *  - `agg_noop_sink`   — the update-mode groupBy/collect_list agg
  *    (the D5 state shape) into a no-op foreachBatch: machinery +
  *    state store, no sink.
  *  - `agg_noop_sink_p2`— same at 2 state partitions instead of 8:
  *    prices the per-partition state-store file overhead.
  *  - `upsert_full`     — the production parity row end to end.
  *  - `sink_batch_loop` — the upsertBatch sink driven DIRECTLY with 4
  *    batch slices (no streaming at all): the sink's snapshot-merge
  *    I/O in isolation.
  *
  * The deltas between arms are the committed attribution (SURVEY §2
  * D5). Run: `sbt "runMain graft.tools.StreamSplit [sfDir]"`.
  */
object StreamSplit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val passes = sys.env.getOrElse("SPARK_GRAFT_PASSES", "5").toInt.max(1)
    val spark = graft.GraftSession.forMain("graft-stream-split", "32")
    val sf = new java.io.File(sfDir).getName

    val orders = graft.sources.Tables.orders(spark, sfDir)
      .select(col("o_orderpriority"), col("o_orderkey"))
    // stage once, exactly like StreamParity.fileStream
    val dir = Fixtures.dir(s"ssplit_$sf")
    val input = s"$dir/input"
    Fixtures.buildOnce(dir)(
      orders.repartition(8).write.mode("overwrite").parquet(input))
    def src = spark.readStream.schema(orders.schema)
      .option("maxFilesPerTrigger", 2).parquet(input)

    val n = new java.util.concurrent.atomic.AtomicLong()
    def fresh(key: String) = Fixtures.dir(s"ssplit_${key}_${n.incrementAndGet()}").toString

    def withParts[T](p: Int)(body: => T): T = {
      val prev = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", p.toString)
      try body finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    }

    def time(fn: () => Unit): Double = {
      val t0 = System.nanoTime()
      fn()
      (System.nanoTime() - t0) / 1e9
    }

    def noopStream(): Unit = withParts(8) {
      val q = src.writeStream.outputMode("append")
        .foreachBatch((df: DataFrame, _: Long) => df.foreach(_ => ()))
        .option("checkpointLocation", s"${fresh("noop")}/ckpt")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }

    def aggNoopSink(parts: Int): Unit = withParts(parts) {
      val q = src.groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("total"),
          collect_list(struct(col("o_orderkey"))).as("rows"))
        .writeStream.outputMode("update")
        .foreachBatch((df: DataFrame, _: Long) => df.foreach(_ => ()))
        .option("checkpointLocation", s"${fresh("aggnoop")}/ckpt")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }

    def upsertFull(): Unit = {
      graft.streaming.StreamParity.streamUpsertParity(spark, sfDir).count()
      graft.util.CacheRegistry.releaseAll()
    }

    def sinkBatchLoop(): Unit = {
      val target = fresh("sinkonly")
      // 4 batches of the same total volume as the stream replay, each
      // carrying every key's FULL cumulative aggregate (update mode
      // re-emits whole values — mirror that honestly)
      (0 until 4).foreach { i =>
        val slice = orders.filter(pmod(col("o_orderkey"), lit(4)) <= i)
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("total"),
            collect_list(struct(col("o_orderkey"))).as("rows"))
        graft.streaming.EventStream.upsertBatch(target, Seq("o_orderpriority"))(
          slice, i.toLong)
      }
    }

    val probes: Seq[(String, () => Unit)] = Seq(
      "noop_stream" -> (() => noopStream()),
      "agg_noop_sink" -> (() => aggNoopSink(8)),
      "agg_noop_sink_p2" -> (() => aggNoopSink(2)),
      "sink_batch_loop" -> (() => sinkBatchLoop()),
      "upsert_full" -> (() => upsertFull()))

    probes.foreach { case (_, fn) => fn() } // warmup
    val meds = probes.map { case (name, fn) =>
      name -> graft.Bench.median(Seq.fill(passes)(time(fn)))
    }
    val body = meds.map { case (nm, t) => s""""$nm":${f"$t%.3f"}""" }
      .mkString("{", ",", "}")
    println(s"""{"metric":"stream_split","sf":"$sfDir","passes":$passes,"medians":$body}""")
    Fixtures.sweep(spark)
    spark.stop()
  }
}
