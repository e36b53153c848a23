package graft.perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Path, Paths}
import java.util.{Base64, SplittableRandom}

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.expr.Crypto
import graft.jobs._
import graft.ops.Upsert

/** The ingest workload. A client POSTs `/jobs/ingestion/sync` to an
  * [[ApiServer]]; its job runs under `OpsRunner.withRun` (lock, daily log,
  * run banner) around `IngestionJob.run` on the production key path: Fernet
  * for PII and Argon2id at 64 MiB x t=3. The job fetches from a
  * [[UserSource]] over loopback HTTP into a store that starts empty and
  * which every run reads, merges and rewrites whole.
  */
final class IngestBench(spark: SparkSession, dir: Path, seed: Long, tracer: Tracer) {

  private val rnd = new SplittableRandom(seed)
  private def bytes(n: Int): Array[Byte] = Array.fill(n)(rnd.nextInt(256).toByte)
  private val keys = SecretKeys(s"pepper-$seed",
    Base64.getUrlEncoder.encodeToString(bytes(32)),
    Base64.getEncoder.encodeToString(bytes(32)))

  private val gen = new UserGen(seed)
  private val store = dir.resolve("store").toString
  private val opsBase = dir.resolve("ops")
  /** Keep-first over every served user: the first plaintext per uuid. */
  private val served = scala.collection.mutable.LinkedHashMap.empty[String, User]
  private def expectedRows: Long = served.size.toLong

  private val source = new UserSource(gen, seed)

  /** The trace context of the op in flight: (op id, parent span). */
  @volatile private var traced: Option[(Long, Long)] = None

  private def runJob(): IngestMetrics = {
    var m: IngestMetrics = null
    def job(): Int = {
      m = traced match {
        case None => IngestionJob.run(spark, new HttpUserFetcher(source.url), store, keys)
        case Some((op, _)) => tracedJob(op)
      }
      0
    }
    val rc = traced match {
      case None => OpsRunner.withRun(opsBase, "ingestion.job")(() => job())
      case Some((op, parent)) =>
        tracer.span("OpsRunner", op, parent)(OpsRunner.withRun(opsBase, "ingestion.job")(() => job()))()
    }
    if (rc != 0 || m == null) throw new IllegalStateException(s"ops run exited with $rc")
    m
  }

  private val server = new ApiServer(() => runJob()).start()
  private val client = HttpClient.newHttpClient()
  private val request = HttpRequest.newBuilder(
    URI.create(s"http://127.0.0.1:${server.boundPort}/jobs/ingestion/sync"))
    .POST(HttpRequest.BodyPublishers.noBody()).build()

  /** One untimed light-KDF run into a throwaway store, so the timed ops do
    * not pay class loading and code generation. */
  def warmUp(): Unit = {
    val warm = new UserSource(new UserGen(seed + 1), seed + 1)
    try IngestionJob.run(spark, new HttpUserFetcher(warm.url),
      dir.resolve("warmup-store").toString, keys.pepper, "0123456789abcdef",
      keys.blindIndexKey)
    finally warm.stop()
  }

  /** One op: trigger a run and wait for its response. Returns whether the
    * reported counts match the expected store. */
  def op(id: Long, trace: Boolean): Boolean = {
    def post(): HttpResponse[String] = client.send(request, HttpResponse.BodyHandlers.ofString())
    val resp =
      if (!trace) post()
      else tracer.span("ApiServer", id) {
        traced = Some((id, tracer.current)); try post() finally traced = None
      }()
    source.takeServed().foreach { u =>
      if (!served.contains(u.uuid)) served(u.uuid) = u
    }
    resp.statusCode() == 200 &&
      field(resp.body, "rows_fetched") == UserSource.BatchSize &&
      field(resp.body, "rows_after_dedup") == expectedRows
  }

  private def field(json: String, name: String): Long =
    s""""$name":\\s*(\\d+)""".r.findFirstMatchIn(json).map(_.group(1).toLong).getOrElse(-1L)

  /** `IngestionJob.run`'s steps, each materialized inside its own span. The
    * merge input, write and commit are a copy of the job's private tail
    * (`runWith`), so `Upsert.merge` times the public `Upsert.keepFirst` but
    * `IngestionJob.write` and `IngestionJob.commit` time this copy. */
  private def tracedJob(op: Long): IngestMetrics =
    tracer.span("IngestionJob", op) {
      val fetched = tracer.span("Acquisition.fetch", op)(new HttpUserFetcher(source.url).fetch())(
        r => Map("bytes" -> r.body.length.toDouble, "retries" -> r.retriesUsed.getOrElse(0).toDouble))
      val (users, nFetched) = tracer.span("IngestionJob.parse", op) {
        val d = IngestionJob.readUsersJson(spark, fetched.body).persist()
        (d, d.count())
      }()
      val (secured, nSecured) = tracer.span("Crypto.secure", op) {
        val s = IngestionJob.secureTransform(users, keys, kdfTimeCost = 3,
          kdfMemoryKib = 65536).persist()
        (s, s.count())
      }(r => Map("rows" -> r._2.toDouble))
      val rowsBefore = expectedRows // this batch is not counted yet
      val (merged, nMerged) = tracer.span("Upsert.merge", op) {
        // coalesce(1) as the job's write does, so the merge runs as one task
        val existing =
          if (Files.exists(Paths.get(store))) spark.read.parquet(store)
          else spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
            secured.drop("_fetch_pos").schema)
        val m = Upsert.keepFirst(existing.withColumn("_fetch_pos", lit(-1)), secured,
          keys = Seq("login_uuid"), order = Seq(col("_fetch_pos")))
          .drop("_fetch_pos").coalesce(1).persist()
        (m, m.count())
      }(r => Map("rows_in" -> (rowsBefore + nSecured).toDouble, "rows_out" -> r._2.toDouble))
      val tmp = store + ".tmp"
      tracer.span("IngestionJob.write", op) {
        merged.write.mode("overwrite").parquet(tmp)
      }(_ => Map("bytes" -> Main.dirBytes(Paths.get(tmp)).toDouble))
      val rows = tracer.span("IngestionJob.commit", op) {
        val n = spark.read.parquet(tmp).count()
        val fs = new HPath(store).getFileSystem(spark.sparkContext.hadoopConfiguration)
        fs.delete(new HPath(store), true)
        fs.rename(new HPath(tmp), new HPath(store))
        n
      }()
      Seq(users, secured, merged).foreach(_.unpersist())
      require(nMerged == rows, s"merged $nMerged rows but committed $rows")
      IngestMetrics(fetched.httpStatus, fetched.retriesUsed, nFetched, rows, store)
    }()

  /** The store must hold exactly the keep-first union of everything served,
    * and sampled rows must decrypt, re-index and verify to the generated
    * plaintext. Returns the failed checks. */
  def checkStore(): Seq[String] = {
    val df = spark.read.parquet(store)
    val keysGot = df.select("login_uuid").collect().map(_.getString(0))
    val want = served.keySet
    val errs = scala.collection.mutable.ArrayBuffer.empty[String]
    if (keysGot.length != want.size) errs += s"store rows ${keysGot.length} != ${want.size}"
    if (keysGot.toSet != want) errs += "store key set differs from the keep-first union"
    // every served user; Argon2 verification (0.4 s each at 64 MiB) on five
    val sample = served.values.toSeq
    val verify = sample.take(5).map(_.uuid).toSet
    val truth = sample.map(u => u.uuid -> u).toMap
    val emails = spark.createDataFrame(sample.map(u => (u.uuid, u.email)))
      .toDF("login_uuid", "email_plain")
    val dec = (c: String) => Crypto.fernetDecrypt(col(c), keys.fernetKey)
    val checked = df.join(emails, "login_uuid")
      .select(col("login_uuid"), dec("email_enc"), dec("phone_enc"), dec("street_name_enc"),
        col("email_bidx"), Crypto.blindIndex(col("email_plain"), keys.blindIndexKey),
        col("password_hash"))
      .collect()
    if (checked.length != truth.size) errs += s"sampled ${checked.length} of ${truth.size} rows"
    checked.foreach { r =>
      val u = truth(r.getString(0))
      if (r.getString(1) != u.email || r.getString(2) != u.phone || r.getString(3) != u.street)
        errs += s"${u.uuid}: decrypt round-trip mismatch"
      if (r.getString(4) != r.getString(5)) errs += s"${u.uuid}: email_bidx mismatch"
      if (verify(u.uuid) && !Crypto.verifyPassword(u.password, keys.pepper, r.getString(6)))
        errs += s"${u.uuid}: password hash does not verify"
    }
    errs.toSeq
  }

  def stop(): Unit = { server.stop(); source.stop() }
}
