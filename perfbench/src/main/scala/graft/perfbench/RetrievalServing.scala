package graft.perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import graft.SparkEntry
import graft.llm.{Ann, Lexical}
import graft.sources.{AnnIndexSink, BucketedSink}

/** retrieval_serving: one client sending hybrid top-k requests to warm
  * persisted indexes, interleaved with writes to the same indexes.
  *
  * A read carries a batch of query ids; the client holds their vectors and
  * texts and asks both the ANN index (`Ann.annTopkForQueries`) and the
  * lexical index (`Lexical.lexTopkForQueries`). Writes are arrivals
  * (`appendEmbeddings` + `appendLexDocs`), takedowns (`deleteEmbeddings` +
  * `deleteLexDocs`) and inline compactions (`compact` + `compactLex`).
  * The requests (`warmup.txt`, then `plan.txt`) are generated from the
  * seed; the warm-up writes an arrival, a takedown, a compaction and a
  * second takedown, so every measured read runs against grown, compacted
  * and tombstoned indexes.
  */
final class RetrievalServing(spark: SparkSession, dir: String, out: String,
                             tracer: Tracer) extends Workload {
  import spark.implicits._

  private var annTable = ""
  private var lexTable = ""
  private val vecs = mutable.Map.empty[Long, Array[Float]]
  private val texts = mutable.Map.empty[Long, String]
  private val deleted = mutable.Set.empty[Long]

  private def requests(file: String): IndexedSeq[Array[String]] = {
    val src = scala.io.Source.fromFile(s"$dir/$file", "UTF-8")
    try src.getLines().map(_.trim.split(" ")).toIndexedSeq finally src.close()
  }
  private val plan = requests("plan.txt")
  private var pos = 0

  private def ids(s: String): Seq[Long] = s.split(",").toSeq.map(_.toLong)

  private def loadClientData(path: String): Unit = {
    spark.read.parquet(s"$path/embeddings.parquet").select("vec_id", "embedding")
      .as[(Long, Array[Float])].collect().foreach { case (i, v) => vecs(i) = v }
    spark.read.parquet(s"$path/documents.parquet").select("doc_id", "text")
      .as[(Long, String)].collect().foreach { case (i, t) => texts(i) = t }
  }

  override def setup(): Unit = {
    annTable = tracer.span("sources.ann_index_build")(AnnIndexSink.ensureEmbeddingIndex(spark, dir))
    lexTable = tracer.span("sources.lex_index_build")(Lexical.ensureLexIndex(spark, dir))
    loadClientData(dir)
    loadClientData(s"$dir/arrivals")
  }

  private def vecFrame(q: Seq[Long]): DataFrame =
    q.map(i => (i, vecs(i))).toDF("vec_id", "embedding")
  private def docFrame(q: Seq[Long]): DataFrame =
    q.map(i => (i, texts(i))).toDF("doc_id", "text")

  /** Rows are (q_id, nb_id, rank, score): every q_id asked for, ranks
    * 1..n per query, never the query itself, never a taken-down id.
    */
  private def checkTopk(what: String, rows: Array[Row], q: Seq[Long]): Option[String] = {
    val asked = q.toSet
    val bad = rows.find { r =>
      !asked(r.getLong(0)) || r.getLong(1) == r.getLong(0) || deleted(r.getLong(1))
    }
    val ranksOk = rows.groupBy(_.getLong(0)).values.forall { rs =>
      rs.map(_.getInt(2)).sorted.toSeq == (1 to rs.length)
    }
    if (rows.isEmpty) Some(s"$what: no rows")
    else if (bad.isDefined) Some(s"$what: bad row ${bad.get}")
    else if (!ranksOk) Some(s"$what: ranks not 1..n")
    else None
  }

  private def read(q: Seq[Long]): Op = {
    var ann = Array.empty[Row]
    var lex = Array.empty[Row]
    Op("read",
      run = () => {
        ann = tracer.span("llm.ann_probe")(
          Ann.annTopkForQueries(spark, annTable, vecFrame(q)).collect())
        lex = tracer.span("llm.lexical_probe")(
          Lexical.lexTopkForQueries(spark, lexTable, docFrame(q)).collect())
      },
      verify = () => checkTopk("ann", ann, q).orElse(checkTopk("lex", lex, q))
        .toLeft((ann.length + lex.length).toLong),
      meta = () => Map("ids" -> q, "ann_rows" -> ann.length))
  }

  private def op(line: Array[String]): Op = line(0) match {
    case "read" => read(ids(line(1)))
    case "append" =>
      // an arrival is a document and its vector, under one id
      val v = ids(line(1))
      Op("append", run = () => {
        tracer.span("sources.ann_append")(AnnIndexSink.appendEmbeddings(vecFrame(v), annTable))
        tracer.span("sources.lex_append")(Lexical.appendLexDocs(docFrame(v), lexTable))
      }, meta = () => Map("vec_ids" -> v))
    case "delete" =>
      val d = ids(line(1))
      Op("delete", run = () => tracer.span("sources.tombstone") {
        AnnIndexSink.deleteEmbeddings(spark, annTable, d.toDF("vec_id"))
        Lexical.deleteLexDocs(spark, lexTable, d.toDF("doc_id"))
        deleted ++= d
      }, meta = () => Map("ids" -> d))
    case "compact" =>
      Op("compact", run = () => tracer.span("sources.compact") {
        AnnIndexSink.compact(spark, annTable)
        Lexical.compactLex(spark, lexTable)
      })
  }

  private def writeParquet(df: DataFrame, name: String): Unit =
    df.write.mode("overwrite").parquet(s"$out/check/$name")

  /** The cold first operation: the batch probes over the freshly built
    * indexes (the catalog's ann_index_probe and lexical_index_probe for
    * ids below 10), whose outputs are written, untimed, for the oracles.
    * Then the first read and the warm-up writes.
    */
  def warmup(): Seq[Op] = {
    var ann, lex: DataFrame = null
    Op("batch_probe",
      run = () => {
        ann = Ann.probeIndexTable(spark, annTable)
        baseAnn = ann.collect()
        lex = Lexical.lexProbeFromStore(spark, lexTable)
        baseLex = lex.collect()
      },
      verify = () => {
        writeParquet(spark.createDataFrame(baseAnn.toSeq.asJava, ann.schema), "ann_probe_base")
        writeParquet(spark.createDataFrame(baseLex.toSeq.asJava, lex.schema), "lex_probe_base")
        if (baseAnn.isEmpty || baseLex.isEmpty) Left("batch probe: no rows")
        else Right((baseAnn.length + baseLex.length).toLong)
      }) +: parityRead() +: requests("warmup.txt").map(op)
  }

  private var baseAnn, baseLex = Array.empty[Row]
  private var parity = Map.empty[String, Any]
  private def norm(rs: Array[Row]) =
    rs.map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.get(3))).toSet

  /** The first read: hybrid top-k for the batch probes' query ids, whose
    * answers must equal the batch probes' on the same (base) indexes.
    */
  private def parityRead(): Op = {
    var annQ, lexQ = Seq.empty[Long]
    var ann, lex = Array.empty[Row]
    Op("read",
      run = () => {
        annQ = baseAnn.map(_.getLong(0)).distinct.toSeq.sorted
        lexQ = baseLex.map(_.getLong(0)).distinct.toSeq.sorted
        ann = tracer.span("llm.ann_probe")(
          Ann.annTopkForQueries(spark, annTable, vecFrame(annQ)).collect())
        lex = tracer.span("llm.lexical_probe")(
          Lexical.lexTopkForQueries(spark, lexTable, docFrame(lexQ)).collect())
      },
      verify = () => {
        parity = Map("ann_parity" -> (norm(ann) == norm(baseAnn)),
          "lex_parity" -> (norm(lex) == norm(baseLex)),
          "parity_queries" -> Map("ann" -> annQ.size, "lex" -> lexQ.size))
        checkTopk("ann", ann, annQ).orElse(checkTopk("lex", lex, lexQ))
          .toLeft((ann.length + lex.length).toLong)
      },
      meta = () => Map("ids" -> (annQ ++ lexQ).distinct, "ann_rows" -> ann.length))
  }

  def next(): Op = {
    pos += 1
    op(plan(pos - 1))
  }

  /** Enough reads for a median, and the one append append_p50_ms needs
    * (the plan's second request).
    */
  override def covered(measured: Seq[OpRec]): Boolean =
    measured.count(_.kind == "read") >= RetrievalServing.MinReads &&
      measured.exists(_.kind == "append")

  /** One write of each kind, so every traced run times all write layers;
    * then the capex probe.
    */
  override def tracedOps(probes: LayerProbes): Seq[Op] =
    Seq("append", "delete", "compact").flatMap(k => plan.drop(pos).find(_(0) == k)).map(op) :+
      probes.capexJob()

  private def tableFiles(t: String): Seq[java.io.File] =
    if (!spark.catalog.tableExists(t)) Nil
    else {
      val loc = new java.io.File(spark.sessionState.catalog
        .getTableMetadata(TableIdentifier(t)).location)
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk)
        else if (f.getName.startsWith("part-")) Seq(f) else Nil
      walk(loc)
    }

  override def gauges(): Map[String, Double] = {
    val tables = Seq(annTable, lexTable, lexTable + "_df", lexTable + "_stats")
      .flatMap(t => Seq(t, BucketedSink.tombTableOf(t)))
    val files = tables.flatMap(tableFiles)
    Map("sources.index_files" -> files.size.toDouble,
      "stored_bytes" -> files.map(_.length).sum.toDouble)
  }

  /** Final state: the ANN batch probe, oracle-checked against the final
    * corpus (base + arrivals - takedowns); serving-vs-batch parity is
    * checked on the base indexes by the first read.
    */
  def finalCheck(): Map[String, Any] = {
    writeParquet(Ann.probeIndexTable(spark, annTable), "ann_probe_final")
    parity ++ Map(
      "deleted" -> deleted.toSeq.sorted,
      "oracle_sql" -> Map(
        "ann_index_probe" -> SparkEntry.oracleSql("ann_index_probe"),
        "lexical_index_probe" -> SparkEntry.oracleSql("lexical_index_probe")))
  }
}

object RetrievalServing {
  /** Measured reads per run, at least. */
  val MinReads = 4
}
