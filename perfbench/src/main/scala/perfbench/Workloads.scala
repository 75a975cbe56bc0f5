package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.StructType

import graft.analytics.{AnnIndex, IncrementalDedup, NearDupIndex, TextOps}
import graft.io.{ArtifactStore, ModelStore}
import graft.model.{Pipeline, RunMode}
import graft.pipeline.{DemoCdc, PipelineQuery, ReferenceModels}
import graft.queries.{Q, Registry}

import Main.{dirBytes, dump, materialise}

/** Registered queries without side effects that have a DuckDB oracle
  * and read only the star-schema and `events` tables, every stride-th of
  * them in registry order, timed one by one in a seed-shuffled order, in
  * whole passes. Each is timed from `Q.build` through `collect()`: the
  * full result reaches the client, so no column a user receives can be
  * pruned (as `count()` would let Catalyst do). */
object Olap extends Workload {
  private val corpusTable = "\\b(documents|embeddings)\\b".r

  val eligible: Seq[Q] = Registry.all.filter(q =>
    !q.sideEffecting &&
      q.oracle.exists(sql => corpusTable.findFirstIn(sql).isEmpty))

  private def selected(a: Args): Seq[Q] =
    eligible.zipWithIndex.collect { case (q, i) if i % a.stride == 0 => q }

  private var failed = 0
  private val results =
    mutable.Map.empty[String, (StructType, Array[Row])]

  /** Every measured query, once, on the small input. */
  def warm(spark: SparkSession, a: Args): Unit =
    selected(a).foreach(q => q.build(spark, a.small).collect())

  def run(spark: SparkSession, a: Args, rec: Recorder): Json.Obj = {
    val order = new scala.util.Random(a.seed).shuffle(selected(a))
    while (rec.more(a)) {
      order.foreach { q =>
        try results(q.name) = rec.time("query", q.name) {
          val df = q.build(spark, a.data)
          (df.schema, df.collect())
        } catch { case e: Exception =>
          System.err.println(s"[perfbench] ${q.name} failed: ${e.getMessage}")
          failed += 1
        }
      }
      rec.rounds += 1
      System.err.println(s"[perfbench] round ${rec.rounds} done")
    }
    Json.obj("queries" -> order.size, "eligible" -> eligible.size,
      "failed" -> failed)
  }

  /** The last round's result of each query in Verify's layout, for
    * `tools/check.py`. */
  def finish(spark: SparkSession, a: Args): Json.Obj = {
    val out = s"${a.work}/olap-out"
    results.foreach { case (name, (schema, rows)) =>
      dump(spark, spark.createDataFrame(
        java.util.Arrays.asList(rows: _*), schema), s"$out/$name")
    }
    val oracles = selected(a).filter(q => results.contains(q.name))
    Files.writeString(Paths.get(s"$out/oracle_sql.json"), Json.render(
      Json.Obj(oracles.map(q => q.name -> q.oracle.get))))
    Json.obj("out" -> out, "dumped" -> results.size)
  }
}

/** The write paths in one round, each on a fresh store: bronze CDC
  * feeds from DemoCdc, then ReferenceModels through Pipeline.run into a
  * ModelStore (one Bootstrap run at the first feed cut, one Incremental
  * run per later cut of the same cumulative feed, the last past every
  * order date); then corpus batches folded through IncrementalDedup and
  * NearDupIndex, an AnnIndex built in an ArtifactStore on the first
  * vector batch and appended with the rest, and the query chunks
  * searched. */
object Ingest extends Workload {
  private val models = new ReferenceModels(PipelineQuery.clock)
  private val Layer = "corpus"
  // state of the last round, read by finish()
  private var pipeStore: Option[ModelStore] = None
  private var corpusStore: Option[ModelStore] = None
  private var index: Option[ModelStore] = None
  private val decisions = mutable.ArrayBuffer.empty[DataFrame]
  private val dupKeys = mutable.ArrayBuffer.empty[Long]
  private val answers = mutable.ArrayBuffer.empty[Row]

  private def sources(cust: DataFrame, ord: DataFrame, cut: String) =
    (_: String, name: String) => name match {
      case "customers_cdc" => cust
      case "orders_cdc" =>
        ord.filter(col("_cdc_timestamp") < lit(java.sql.Date.valueOf(cut)))
      case other => sys.error(s"unknown source $other")
    }

  private def duplicateKeys(spark: SparkSession, store: ModelStore): Long =
    store.read(spark, "silver", "customers_latest").get
      .groupBy("customer_id").count().filter(col("count") > 1).count()

  /** The pipeline part of a round; returns the feed's CDC row count. */
  private def pipeline(spark: SparkSession, a: Args, store: ModelStore,
      rec: Recorder): Long = {
    val (cust, ord, rows) = rec.time("bronze") {
      val c = DemoCdc.customersCdc(spark, a.data, distribute = true).persist()
      val o = DemoCdc.ordersCdc(spark, a.data, distribute = true).persist()
      (c, o, c.count() + o.count())
    }
    try {
      rec.time("bootstrap") {
        new Pipeline(models.all, store, sources(cust, ord, a.cuts.head))
          .run(spark, RunMode.Bootstrap): Unit
      }
      dupKeys += duplicateKeys(spark, store)
      a.cuts.tail.foreach { cut =>
        rec.time("incremental", cut) {
          new Pipeline(models.all, store, sources(cust, ord, cut))
            .run(spark, RunMode.Incremental): Unit
        }
        dupKeys += duplicateKeys(spark, store)
      }
    } finally { cust.unpersist(); ord.unpersist(): Unit }
    rows
  }

  private def files(dir: String, prefix: String): Seq[String] =
    Option(new java.io.File(dir).listFiles).toSeq.flatten
      .map(_.getName)
      .filter(n => n.startsWith(prefix) && n.endsWith(".parquet"))
      .sortBy(n => n.stripPrefix(prefix).stripSuffix(".parquet").toInt)
      .map(n => s"$dir/$n")

  private def corpusDir(a: Args) = s"${a.data}/corpus"

  /** The corpus part of a round; returns the number of documents. */
  private def corpus(spark: SparkSession, a: Args, store: ModelStore,
      idx: ModelStore, rec: Recorder): Long = {
    decisions.clear()
    var docs = 0L
    files(corpusDir(a), "docs_").zipWithIndex.foreach { case (f, b) =>
      val batch = spark.read.parquet(f)
      docs += batch.count()
      rec.time("dedup") {
        materialise(IncrementalDedup.applyBatch(spark, store, Layer, "fps",
          batch.withColumn("content_fp", TextOps.contentHash(col("text"))),
          b.toLong))
      }
      decisions += rec.time("neardup") {
        val d = NearDupIndex.ingest(spark, store, Layer, "nd", batch,
          "doc_id", col("text"), b.toLong)
        materialise(d)
        d
      }
    }
    val vecs = files(corpusDir(a), "vecs_").map(spark.read.parquet(_))
    rec.time("ann_build") {
      val sig = ArtifactStore.contentFp(vecs.head, col("vec_id"),
        col("embedding"))
      ArtifactStore.ensure(spark, idx, AnnIndex.Layer, "ann_postings", sig) {
        AnnIndex.build(spark, idx, "ann", vecs.head,
          extraMeta = Map("corpus_fp" -> sig))
      }
    }
    vecs.tail.foreach(v => rec.time("ann_append")(
      AnnIndex.append(spark, idx, "ann", v)))
    answers.clear()
    files(corpusDir(a), "queries_").foreach { f =>
      val q = spark.read.parquet(f)
      answers ++= rec.time("search") {
        AnnIndex.search(spark, idx, "ann", q).select("q_id", "vec_id", "rnk")
          .collect()
      }
    }
    docs
  }

  /** The bronze feeds once on the small input. */
  def warm(spark: SparkSession, a: Args): Unit = {
    DemoCdc.customersCdc(spark, a.small, distribute = true).count()
    DemoCdc.ordersCdc(spark, a.small, distribute = true).count(): Unit
  }

  def run(spark: SparkSession, a: Args, rec: Recorder): Json.Obj = {
    val storeBytes, storeFiles, indexBytes = mutable.ArrayBuffer.empty[Long]
    var rows, docs = 0L
    while (rec.more(a)) {
      // only the last round's stores are kept
      (pipeStore ++ corpusStore ++ index).foreach(s =>
        graft.Harness.deleteRecursively(new java.io.File(s.root)))
      val r = rec.rounds
      pipeStore = Some(new ModelStore(s"${a.work}/pipeline-$r"))
      corpusStore = Some(new ModelStore(s"${a.work}/corpus-$r"))
      index = Some(ArtifactStore.forDir(s"perfbench-ann-$r", corpusDir(a)))
      rows = pipeline(spark, a, pipeStore.get, rec)
      docs = corpus(spark, a, corpusStore.get, index.get, rec)
      val (b, f) = dirBytes(pipeStore.get.root)
      storeBytes += b
      storeFiles += f
      indexBytes += dirBytes(index.get.root)._1
      rec.rounds += 1
      System.err.println(s"[perfbench] round ${rec.rounds} done")
    }
    Json.obj("cdc_rows" -> rows, "docs" -> docs,
      "store_bytes" -> storeBytes.toSeq, "store_files" -> storeFiles.toSeq,
      "index_bytes" -> indexBytes.toSeq, "duplicate_keys" -> dupKeys.toSeq)
  }

  /** Outputs of the last round for the independent checks: the gold
    * dimension presented as q34 presents it to its oracle (Verify's
    * layout, for `tools/check.py`), the dedup survivors, the near-dup
    * decisions, and the search answer for every query. */
  def finish(spark: SparkSession, a: Args): Json.Obj = {
    val out = s"${a.work}/ingest-out"
    val q = PipelineQuery.qPipelineE2e
    val dim = pipeStore.get.read(spark, "gold", "dim_customer").get
    dump(spark, present(dim).orderBy("customer_id"), s"$out/gold/${q.name}")
    Files.writeString(Paths.get(s"$out/gold/oracle_sql.json"),
      Json.render(Json.obj(q.name -> q.oracle.get)))
    dump(spark, corpusStore.get.read(spark, Layer, "fps").get.select("doc_id"),
      s"$out/survivors")
    dump(spark, decisions.reduce(_ unionByName _), s"$out/neardup")
    import spark.implicits._
    dump(spark, answers.map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .toSeq.toDF("q_id", "vec_id", "rnk"), s"$out/search")
    Json.obj("out" -> out)
  }

  /** q34's output presentation: computed doubles as fixed strings in
    * exact cents, the same expressions PipelineQuery applies. */
  private def present(dim: DataFrame): DataFrame = {
    import graft.ops.Exact
    import org.apache.spark.sql.functions.when
    dim
      .withColumn("average_order_value",
        when(col("lifetime_orders") > 0,
          Exact.dec2(Exact.halfUpDiv(Exact.cents(col("lifetime_value")),
            col("lifetime_orders"))))
          .otherwise(lit("0.00")))
      .withColumn("lifetime_value",
        Exact.dec2(Exact.cents(col("lifetime_value"))))
      .withColumn("delivered_revenue",
        Exact.dec2(Exact.cents(col("delivered_revenue"))))
      .withColumn("revenue_last_90_days",
        Exact.dec2(Exact.cents(col("revenue_last_90_days"))))
      .withColumn("cancellation_rate",
        when(col("cancelled_orders") > 0 && col("completed_orders") > 0,
          Exact.dec4(Exact.halfUpDiv(col("cancelled_orders") * 10000,
            col("completed_orders") + col("cancelled_orders"))))
          .otherwise(lit("0.0000")))
      .withColumn("data_quality_score", Exact.dbl4(col("data_quality_score")))
  }
}
