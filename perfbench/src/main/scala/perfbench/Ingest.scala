package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.{AggState, IndexFsck, Retrieval, VersionedStore}
import graft.streaming.{StreamingAggState, StreamingRetrieval, StreamingVersioned}

/** Persisted index families in their deployment shape: build a base, feed
  * seeded batch files through each family's streaming loop (one file per
  * trigger), replay one batch through the loop's batch body, compact, then
  * serve reads. The seed picks the batch membership and the near-duplicates
  * (see `stage_ingest` in run.py). */
object Ingest extends Workload {
  // a second warm-up pass (13 s) does not fit the run budget next to
  // curate's
  val warmups = 1
  val batches = 2

  /** One persisted family. `state` lists the directories that hold its
    * state (sinks and checkpoints excluded). */
  trait Family {
    def name: String
    def kind: String // "docs" or "agg": which input batches it consumes
    def state(dir: String): Seq[String] = Seq(s"$dir/state")
    def build(ctx: Ctx, dir: String, base: DataFrame): Unit
    /** The streaming loop, started; the pass drives it to the end. */
    def streamCall: String
    def stream(ctx: Ctx, dir: String, in: DataFrame): StreamingQuery
    def replay(ctx: Ctx, dir: String, batch0: DataFrame): Unit
    def compact(ctx: Ctx, dir: String): Unit
    def reads(ctx: Ctx, dir: String): Seq[() => Unit]
    /** Content digest of the end state, comparable with `oneShot`. */
    def endState(ctx: Ctx, dir: String): String
    def oneShot(ctx: Ctx, dir: String, all: DataFrame): String
    def fsck(ctx: Ctx, dir: String): DataFrame
  }

  private def op[T](ctx: Ctx, call: String)(body: => T): T = ctx.call("store", s"graft.operators.$call")(body)
  private def st[T](ctx: Ctx, call: String)(body: => T): T = ctx.call("stream", s"graft.streaming.$call")(body)
  private def collect(ctx: Ctx, df: DataFrame) = ctx.call("spark", "spark.Dataset.collect")(df.collect())

  object Bm25 extends Family {
    val name = "bm25"; val kind = "docs"
    @volatile private var terms: Seq[String] = Nil
    def build(ctx: Ctx, dir: String, base: DataFrame): Unit = {
      val idx = op(ctx, "Retrieval.writeBm25Index")(
        Retrieval.writeBm25Index(base, "doc_id", "text", s"$dir/state", termShards = 4))
      val top = idx.postings.groupBy("term").count().orderBy(col("count").desc, col("term")).limit(3)
      terms = collect(ctx, top).map(_.getString(0)).toSeq
    }
    val streamCall = "StreamingRetrieval.indexedBm25Stream"
    def stream(ctx: Ctx, dir: String, in: DataFrame): StreamingQuery =
      StreamingRetrieval.indexedBm25Stream(in, s"$dir/state", s"$dir/scores", terms)
    def replay(ctx: Ctx, dir: String, b: DataFrame): Unit =
      st(ctx, "StreamingRetrieval.indexedBm25Batch")(
        StreamingRetrieval.indexedBm25Batch(b, s"$dir/state", s"$dir/scores", terms))
    def compact(ctx: Ctx, dir: String): Unit =
      op(ctx, "Retrieval.compactBm25Index")(Retrieval.compactBm25Index(ctx.spark, s"$dir/state", termShards = 4))
    def reads(ctx: Ctx, dir: String): Seq[() => Unit] = Seq(() => {
      import ctx.spark.implicits._
      val idx = op(ctx, "Retrieval.Bm25Index.read")(Retrieval.Bm25Index.read(ctx.spark, s"$dir/state"))
      collect(ctx, op(ctx, "Retrieval.queryBm25Index")(Retrieval.queryBm25Index(idx, terms.toDF("term"))))
    })
    private def digest(idx: Retrieval.Bm25Index): String =
      Digest.table(idx.postings.select("term", "doc_id", "tf")) + "/" + Digest.table(idx.doclens)
    def endState(ctx: Ctx, dir: String): String = digest(Retrieval.Bm25Index.read(ctx.spark, s"$dir/state"))
    def oneShot(ctx: Ctx, dir: String, all: DataFrame): String =
      digest(Retrieval.writeBm25Index(all, "doc_id", "text", s"$dir/oneshot", termShards = 4))
    def fsck(ctx: Ctx, dir: String): DataFrame = IndexFsck.checkBm25(ctx.spark, s"$dir/state")
  }

  object Agg extends Family {
    val name = "agg"; val kind = "agg"
    val groups = Seq("l_returnflag", "l_linestatus")
    val values = Seq("l_quantity", "l_extendedprice")
    def build(ctx: Ctx, dir: String, base: DataFrame): Unit =
      op(ctx, "AggState.writeAggState")(AggState.writeAggState(base, s"$dir/state", groups, values))
    val streamCall = "StreamingAggState.aggStateStream"
    def stream(ctx: Ctx, dir: String, in: DataFrame): StreamingQuery =
      StreamingAggState.aggStateStream(in, s"$dir/state", groups, values, s"$dir/ckpt")
    def replay(ctx: Ctx, dir: String, b: DataFrame): Unit =
      st(ctx, "StreamingAggState.aggStateBatch")(
        StreamingAggState.aggStateBatch(b, s"$dir/state", groups, values, "t_0"))
    def compact(ctx: Ctx, dir: String): Unit =
      op(ctx, "AggState.compactAggState")(AggState.compactAggState(ctx.spark, s"$dir/state", groups, values))
    private def read(ctx: Ctx, dir: String) =
      op(ctx, "AggState.readAggState")(AggState.readAggState(ctx.spark, dir, groups, values))
    def reads(ctx: Ctx, dir: String): Seq[() => Unit] = Seq(
      () => collect(ctx, read(ctx, s"$dir/state")),
      () => {
        // a dashboard query over the state, through the SQL front end
        read(ctx, s"$dir/state").createOrReplaceTempView("pb_agg_state")
        collect(ctx, ctx.call("engine", "graft.engine.GraftEngine.sql")(ctx.engine.sql(
          "SELECT l_returnflag, SUM(cnt) AS n, SUM(sum_l_quantity) AS q FROM pb_agg_state " +
            "GROUP BY l_returnflag ORDER BY l_returnflag")))
      })
    def endState(ctx: Ctx, dir: String): String = Digest.table(read(ctx, s"$dir/state"))
    def oneShot(ctx: Ctx, dir: String, all: DataFrame): String =
      Digest.table(AggState.writeAggState(all, s"$dir/oneshot", groups, values))
    def fsck(ctx: Ctx, dir: String): DataFrame = IndexFsck.checkAggState(ctx.spark, s"$dir/state")
  }

  object Versioned extends Family {
    val name = "versioned"; val kind = "docs"
    def build(ctx: Ctx, dir: String, base: DataFrame): Unit =
      op(ctx, "VersionedStore.create")(VersionedStore.create(ctx.spark, s"$dir/state", Map("docs" -> base)))
    val streamCall = "StreamingVersioned.versionedIngestStream"
    def stream(ctx: Ctx, dir: String, in: DataFrame): StreamingQuery =
      StreamingVersioned.versionedIngestStream(in, s"$dir/state", "docs", s"$dir/ckpt")
    def replay(ctx: Ctx, dir: String, b: DataFrame): Unit =
      st(ctx, "StreamingVersioned.versionedIngestBatch")(
        StreamingVersioned.versionedIngestBatch(b, s"$dir/state", "docs", "t_0"))
    def compact(ctx: Ctx, dir: String): Unit = {
      op(ctx, "VersionedStore.rewrite")(VersionedStore.rewrite(ctx.spark, s"$dir/state")(identity))
      op(ctx, "VersionedStore.vacuum")(VersionedStore.vacuum(ctx.spark, s"$dir/state", keepLast = 2))
    }
    def reads(ctx: Ctx, dir: String): Seq[() => Unit] = {
      def at(v: Option[Long]) = () => {
        collect(ctx, op(ctx, "VersionedStore.snapshot")(VersionedStore.snapshot(ctx.spark, s"$dir/state", v))
          .table("docs").agg(count(lit(1)), max(col("doc_id"))))
        ()
      }
      val vs = op(ctx, "VersionedStore.versionNumbers")(VersionedStore.versionNumbers(ctx.spark, s"$dir/state"))
      Seq(at(None), at(Some(vs.init.last)))
    }
    def endState(ctx: Ctx, dir: String): String =
      Digest.table(VersionedStore.snapshot(ctx.spark, s"$dir/state").table("docs").select("doc_id", "text"))
    def oneShot(ctx: Ctx, dir: String, all: DataFrame): String = Digest.table(all.select("doc_id", "text"))
    def fsck(ctx: Ctx, dir: String): DataFrame = IndexFsck.checkVersionedStore(ctx.spark, s"$dir/state")
  }

  val families: Seq[Family] = Seq(Bm25, Agg, Versioned)

  /** Base and batch inputs of the seed, staged by run.py before the JVM
    * starts: parquet files whose modification times order the triggers. */
  final case class Inputs(base: Map[String, DataFrame], batch0: Map[String, DataFrame],
                          batchDir: Map[String, String], batchFiles: Map[String, Seq[String]],
                          docsIngested: Long, inputBytes: Long)
  @volatile private var staged: Inputs = null

  private def inputs(ctx: Ctx): Inputs = {
    if (staged != null) return staged
    val s = ctx.spark
    val root = ctx.dir("ingest/in")
    val kinds = Seq("docs", "agg")
    val files = kinds.map(k => k -> (0 until batches).map(b => s"$root/$k/b$b.parquet")).toMap
    files.values.flatten.foreach(f => require(new java.io.File(f).isFile, s"input $f was not staged"))
    val base = kinds.map(k => k -> s.read.parquet(s"$root/base_$k.parquet")).toMap
    val ingested = files("docs").map(f => s.read.parquet(f).count()).sum
    val batch0 = kinds.map(k => k -> s.read.parquet(files(k).head)).toMap
    staged = Inputs(base, batch0, kinds.map(k => k -> s"$root/$k").toMap, files, ingested,
      Files2.usage(root)._2)
    staged
  }

  def pass(ctx: Ctx, i: Int, check: Boolean): PassOut = {
    val p = new PassOut
    val in = inputs(ctx)
    val s = ctx.spark
    val out = ctx.dir("ingest/out")
    Files2.delete(out)
    val dirs = families.map(f => f -> s"$out/${f.name}").toMap
    val stateDirs = families.flatMap(f => f.state(dirs(f)))
    val seen = scala.collection.mutable.Map[String, Long]()
    var written, created = 0L
    def account(): Unit = stateDirs.foreach { d =>
      Files2.list(d).foreach { case (path, len) =>
        if (!seen.contains(path)) { written += len; created += 1 }
        seen(path) = len
      }
    }
    def timed(key: String)(body: => Unit): Double = {
      val t = System.nanoTime(); body
      val secs = (System.nanoTime() - t) / 1e9
      p.stage(key, secs)
      secs
    }

    families.foreach(f => timed(s"store.${f.name}.build")(f.build(ctx, dirs(f), in.base(f.kind))))
    account()
    families.foreach { f =>
      val stream = s.readStream.schema(in.batch0(f.kind).schema).option("maxFilesPerTrigger", "1")
        .parquet(in.batchDir(f.kind))
      val before = ctx.streams.snapshot.size
      timed(s"store.${f.name}.ingest")(st(ctx, f.streamCall) {
        val q = f.stream(ctx, dirs(f), stream)
        try q.processAllAvailable() finally q.stop()
      })
      org.apache.spark.PerfbenchBus.drain(s.sparkContext)
      val trig = ctx.streams.snapshot.drop(before).filter(_.rows > 0)
        .map(_.phases.getOrElse("triggerExecution", 0L) / 1e3)
      require(trig.size == batches, s"${f.name}: ${trig.size} triggers for $batches batch files")
      p.ops ++= trig
      p.stage(s"store.${f.name}.trigger", trig.sum)
    }
    account()
    var noops = 0
    families.foreach { f =>
      val before = f.state(dirs(f)).flatMap(Files2.list).toMap
      timed(s"store.${f.name}.replay")(f.replay(ctx, dirs(f), in.batch0(f.kind)))
      if (f.state(dirs(f)).flatMap(Files2.list).toMap == before) noops += 1
    }
    families.foreach(f => timed(s"store.${f.name}.compact")(f.compact(ctx, dirs(f))))
    account()
    families.foreach { f =>
      // three rounds, for the reason given in Curate
      (1 to 3).foreach(_ => f.reads(ctx, dirs(f)).foreach(r => p.reads += timed(s"store.${f.name}.read")(r())))
    }

    val (liveFiles, liveBytes) = stateDirs.map(Files2.usage).foldLeft((0L, 0L)) {
      case ((a, b), (c, d)) => (a + c, b + d) }
    p.layer ++= Seq("store.bytes_written" -> written.toDouble, "store.files_created" -> created.toDouble,
      "store.files_live" -> liveFiles.toDouble, "store.bytes_live" -> liveBytes.toDouble,
      "store.write_amp" -> written.toDouble / in.inputBytes,
      "store.space_amp" -> liveBytes.toDouble / in.inputBytes,
      "store.replay_noops" -> noops.toDouble)
    p.items = in.docsIngested
    p.digestOf = () => Digest.strings(families.map(f => s"${f.name}=${f.endState(ctx, dirs(f))}"))

    if (check) p.verify = () => {
      p.checks("ok.replay_noops") = noops == families.size
      var findingsTotal = 0L
      families.foreach { f =>
        val all = in.base(f.kind).unionByName(s.read.parquet(in.batchFiles(f.kind): _*))
        p.checks(s"ok.${f.name}.end_state") = f.endState(ctx, dirs(f)) == f.oneShot(ctx, dirs(f), all)
        val findings = Option(f.fsck(ctx, dirs(f)).agg(sum(col("violations"))).head().get(0))
          .fold(0L)(_.toString.toLong)
        findingsTotal += findings
        p.checks(s"ok.${f.name}.fsck") = findings == 0L
      }
      p.checks("store.fsck_findings") = findingsTotal.toDouble
    }
    p
  }
}
