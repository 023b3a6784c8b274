package graft.streaming

import graft.dsl.LogPath
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}

/** Sinks (SURVEY §2.9). The reference's templated file paths are
  * dynamic partitioning; multi-destination log paths are a fan-out that
  * must not recompute the source per sink (§7.4 risk 2) — `foreachBatch`
  * + persist gives the mpx/COW equivalent: one scan, N filtered writes.
  */
object Sinks {

  /** file("/p/$HOST/$YEAR$MONTH.log") (`modules/affile/affile-dest.c`):
    * template path columns become partition columns. Batch form; the
    * streaming form goes through [[foreachBatchPartitioned]]. */
  def partitionedWrite(df: DataFrame, outDir: String, pathCols: Seq[String],
      format: String = "parquet"): Unit =
    df.write.mode("append").format(format).partitionBy(pathCols: _*).save(outDir)

  /** Streaming templated-path file sink. */
  def foreachBatchPartitioned(ds: Dataset[Row], outDir: String,
      pathCols: Seq[String], checkpoint: String,
      format: String = "parquet"): DataStreamWriter[Row] =
    ds.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        partitionedWrite(batch.toDF(), outDir, pathCols, format)
      }

  /** Multi-destination fan-out (`lib/logmpx.c:73-131`): one persisted
    * micro-batch, each channel delivered by the junction's
    * final/fallback rules ([[LogPath.deliveryPredicates]]), its body
    * compiled and written under the channel's name — the scan runs
    * once per trigger, not once per destination. */
  def foreachBatchFanOut(ds: Dataset[Row], checkpoint: String,
      channels: Seq[LogPath.Channel],
      writer: (DataFrame, String) => Unit): DataStreamWriter[Row] =
    ds.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        val cached = batch.persist()
        try
          channels.zip(LogPath.deliveryPredicates(channels)).foreach {
            case (ch, deliver) =>
              writer(LogPath.compile(cached.filter(deliver).toDF(), ch.body),
                ch.name)
          }
        finally { cached.unpersist(); () }
      }

  /** sql() destination (`modules/afsql/afsql.h:62-117`): INSERT each
    * micro-batch over JDBC. `table` may be computed per batch for the
    * reference's templated table() — pass a constant for the common case.
    * Exactly-once = checkpoint + idempotent/transactional target, the
    * Spark replacement for the reference's txn + disk-buffer pair. */
  def jdbcSink(ds: Dataset[Row], url: String, table: String,
      props: java.util.Properties, checkpoint: String): DataStreamWriter[Row] =
    ds.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        batch.write.mode("append").jdbc(url, table, props)
      }

  /** http() destination options (`modules/http/http.c:28-90`,
    * `http-grammar.ym`): url/method/headers/user-agent plus the
    * batching triple. Batching follows `http-worker.c`: the request
    * body is `body-prefix` + messages joined by `delimiter` +
    * `body-suffix`; a flush fires when `batch-lines` messages are
    * buffered or appending would reach `batch-bytes`
    * (`http-worker.c:708-726`). `batch-timeout` bounds how long a
    * partial batch may wait — in micro-batch execution the trigger
    * interval is the primary analog (a batch always flushes at
    * micro-batch end), so the timeout only splits batches inside a
    * very slow partition iterator. */
  final case class HttpConfig(
      url: String,
      method: String = "POST",
      headers: Seq[(String, String)] = Nil,
      userAgent: String = "graft-http/1.0",
      batchLines: Int = 1,
      batchBytes: Int = 0,
      batchTimeoutMs: Long = 0L,
      bodyPrefix: String = "",
      bodySuffix: String = "",
      delimiter: String = "\n",
      connectTimeoutMs: Int = 10000,
      readTimeoutMs: Int = 30000,
      retries: Int = 3,
      retryBackoffMs: Long = 200L,
      /** additional urls — `url("a" "b")` / the loadbalancer scl
        * (`modules/http/http-loadbalancer.c`): workers spread over all
        * targets with per-worker AFFINITY ([[HttpLoadBalancer]]) and
        * FAIL OVER to an operational target on error */
      urls: Seq[String] = Nil,
      /** azure-auth-header() (`modules/azure-auth-header/
        * azure-auth-header.c`): per-request Authorization + x-ms-date
        * headers computed over the body length. */
      azureAuth: Option[AzureAuth] = None) {
    def targets: Seq[String] = if (urls.nonEmpty) urls else Seq(url)
  }

  /** The azure-auth-header() plugin for http() destinations
    * (`/root/reference/modules/azure-auth-header/azure-auth-header.c`):
    * string-to-sign `METHOD\ncontent_len\nCONTENT_TYPE\nx-ms-date:DATE
    * \nPATH` (X_MS_DATE_FORMAT, line 65), HMAC-SHA256 under the
    * base64-decoded secret, headers `Authorization: SharedKey
    * <workspace>:<b64 digest>` + `x-ms-date: <RFC1123 date>`.
    * `clockMs` is injectable so tests pin the date. */
  final case class AzureAuth(
      workspaceId: String,
      secretB64: String,
      method: String = "POST",
      path: String = "/api/logs",
      contentType: String = "application/json",
      clockMs: () => Long = () => System.currentTimeMillis()) {
    def headers(contentLen: Int): Seq[(String, String)] = {
      val fmt = java.time.format.DateTimeFormatter
        .ofPattern("EEE, dd MMM yyyy HH:mm:ss 'GMT'", java.util.Locale.ROOT)
        .withZone(java.time.ZoneOffset.UTC)
      val date = fmt.format(java.time.Instant.ofEpochMilli(clockMs()))
      val toSign = s"$method\n$contentLen\n$contentType\nx-ms-date:$date\n$path"
      val mac = javax.crypto.Mac.getInstance("HmacSHA256")
      mac.init(new javax.crypto.spec.SecretKeySpec(
        java.util.Base64.getDecoder.decode(secretB64), "HmacSHA256"))
      val digest = java.util.Base64.getEncoder.encodeToString(
        mac.doFinal(toSign.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
      Seq("Authorization" -> s"SharedKey $workspaceId:$digest",
        "x-ms-date" -> date)
    }
  }

  /** One [[HttpLoadBalancer]] per target list (the reference's LB is
    * owned by the http destination; the engine's static equivalent is
    * per-URL-set), with one Client per sending THREAD — Spark task
    * threads are the reference's workers, and the LB keeps each affine
    * to its target while balanced (http-loadbalancer.c:60-214). */
  private val lbs =
    new java.util.concurrent.ConcurrentHashMap[Seq[String], HttpLoadBalancer]()
  // per-THREAD clients, registered by thread so dead task threads can
  // be swept (a phantom client would hold its target's goal up forever)
  private val lbClientThreads = new java.util.concurrent.ConcurrentHashMap[
    Thread, scala.collection.mutable.Map[Seq[String], HttpLoadBalancer.Client]]()

  private def lbFor(targets: Seq[String]): HttpLoadBalancer =
    lbs.computeIfAbsent(targets, ts => {
      val lb = new HttpLoadBalancer()
      ts.foreach(lb.addTarget)
      lb
    })

  private def lbClientFor(lb: HttpLoadBalancer,
      targets: Seq[String]): HttpLoadBalancer.Client = {
    // opportunistic sweep: release clients owned by dead threads.
    // CHM iterators are weakly consistent, so two sweepers can SEE the
    // same dead entry — the remove() is the claim: only the thread
    // whose remove returns non-null releases, or _numClients would be
    // double-decremented and recalcGoals skewed forever.
    val it = lbClientThreads.keySet().iterator()
    while (it.hasNext) {
      val t = it.next()
      if (!t.isAlive) {
        val claimed = lbClientThreads.remove(t)
        if (claimed ne null) claimed.synchronized {
          claimed.foreach { case (ts, c) =>
            Option(lbs.get(ts)).foreach(_.releaseClient(c))
          }
        }
      }
    }
    val m = lbClientThreads.computeIfAbsent(Thread.currentThread(),
      _ => scala.collection.mutable.Map.empty)
    m.synchronized(m.getOrElseUpdate(targets, lb.newClient()))
  }

  /** `http-worker.c default_map_http_status_to_worker_status`:
    * LTR_DROP — the payload can never succeed, drop it without retry;
    * LTR_ERROR — bounded retry, then drop; everything else non-2xx is
    * LTR_NOT_CONNECTED — reconnect and retry. */
  private val dropCodes = Set(410, 416, 422, 424, 425, 451, 508)
  private val errorCodes = Set(102, 103, 304, 428, 504)

  /** One HTTP request against the target list with bounded retry and
    * load-balanced failover (the worker's [[HttpLoadBalancer.Client]]
    * stays affine to its target; a failed target leaves the rotation
    * and chooseTarget rebalances). Status handling follows the reference's
    * default_url_failure classification (`http-worker.c:294-372`):
    * permanent client errors (410/416/422/424/425/451 and 508) DROP
    * the request immediately — a replayed micro-batch must not re-POST
    * a payload the server says can never succeed; the LTR_ERROR codes
    * retry `retries` times then drop; transport errors and the
    * remaining non-2xx codes retry with linear backoff across the
    * target list (failover), then throw — failing the micro-batch,
    * which Structured Streaming replays from the checkpoint: the
    * at-least-once contract the reference gets from retry_max +
    * disk-buffer (LTR_NOT_CONNECTED requeues the whole batch).
    * Returns the last HTTP status (negative for dropped requests). */
  private[graft] def httpPost(cfg: HttpConfig, body: Array[Byte]): Int = {
    val targets = cfg.targets
    val lb = lbFor(targets)
    val client = lbClientFor(lb, targets)
    var attempt = 0
    while (true) {
      val target = lb.chooseTarget(client)
      val url = target.url
      try {
        val conn = new java.net.URI(url).toURL.openConnection()
          .asInstanceOf[java.net.HttpURLConnection]
        try {
          conn.setRequestMethod(cfg.method)
          conn.setConnectTimeout(cfg.connectTimeoutMs)
          conn.setReadTimeout(cfg.readTimeoutMs)
          conn.setRequestProperty("User-Agent", cfg.userAgent)
          cfg.headers.foreach { case (k, v) => conn.setRequestProperty(k, v) }
          cfg.azureAuth.foreach(_.headers(body.length).foreach {
            case (k, v) => conn.setRequestProperty(k, v)
          })
          conn.setDoOutput(true)
          conn.setFixedLengthStreamingMode(body.length)
          val os = conn.getOutputStream
          try { os.write(body); os.flush() } finally os.close()
          val code = conn.getResponseCode
          if (code >= 200 && code < 300) { lb.setTargetSuccessful(target); return code }
          if (dropCodes.contains(code)) return -code
          if (errorCodes.contains(code) && attempt >= cfg.retries) return -code
          if (attempt >= cfg.retries)
            throw new java.io.IOException(
              s"http($url): HTTP $code after ${attempt + 1} attempts")
          // any non-success flush fails the TARGET and the next
          // chooseTarget moves this worker to an alternative
          // (http-worker.c:671-699 — the reference's flush loop calls
          // set_target_failed on every retval != LTR_SUCCESS)
          lb.setTargetFailed(target)
        } finally conn.disconnect()
      } catch {
        case e: java.io.IOException if attempt < cfg.retries =>
          // transport failure: same failover rule
          lb.setTargetFailed(target)
      }
      attempt += 1
      Thread.sleep(cfg.retryBackoffMs * attempt)
    }
    -1 // unreachable
  }

  /** Assemble+send one partition's messages under the batching rules —
    * the per-worker accumulate/flush loop of `http-worker.c:695-739`
    * on a partition iterator. Returns the number of requests made. */
  private[graft] def httpSendPartition(cfg: HttpConfig,
      messages: Iterator[String]): Int = {
    val buf = new java.lang.StringBuilder
    var lines = 0
    var requests = 0
    var lastFlush = System.nanoTime()
    def flush(): Unit = if (lines > 0) {
      buf.append(cfg.bodySuffix)
      httpPost(cfg, buf.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      requests += 1
      buf.setLength(0)
      lines = 0
      lastFlush = System.nanoTime()
    }
    messages.foreach { m =>
      if (lines == 0) buf.append(cfg.bodyPrefix) else buf.append(cfg.delimiter)
      buf.append(m)
      lines += 1
      val timedOut = cfg.batchTimeoutMs > 0 &&
        (System.nanoTime() - lastFlush) / 1000000L >= cfg.batchTimeoutMs
      if ((cfg.batchLines > 0 && lines >= cfg.batchLines) ||
          (cfg.batchBytes > 0 && buf.length + cfg.bodySuffix.length >= cfg.batchBytes) ||
          timedOut)
        flush()
    }
    flush()
    requests
  }

  /** http() destination: each micro-batch renders `bodyCol` (the
    * body() template output) and POSTs it batched. Executors post
    * their partitions in parallel — the reference's workers() knob
    * maps to partition count. */
  def httpSink(ds: Dataset[Row], bodyCol: String, cfg: HttpConfig,
      checkpoint: String): DataStreamWriter[Row] =
    ds.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        httpWriteBatch(batch.toDF(), bodyCol, cfg)
      }

  /** Batch form of [[httpSink]] — also what each micro-batch runs. */
  def httpWriteBatch(df: DataFrame, bodyCol: String, cfg: HttpConfig): Unit =
    df.select(col(bodyCol).cast("string")).foreachPartition {
      (rows: Iterator[Row]) =>
        httpSendPartition(cfg, rows.map(_.getString(0)))
        ()
    }

  /** kafka() destination (`modules/kafka/`): native Structured Streaming
    * sink. Requires the spark-sql-kafka package on the cluster (absent in
    * this dev container — compile-checked only). */
  def kafkaSink(ds: Dataset[Row], bootstrapServers: String, topic: String,
      checkpoint: String): DataStreamWriter[Row] =
    ds.writeStream
      .format("kafka")
      .option("kafka.bootstrap.servers", bootstrapServers)
      .option("topic", topic)
      .option("checkpointLocation", checkpoint)

  /** Start a fan-out writing parquet per channel under `outDir/<channel>`. */
  def startFanOutParquet(ds: Dataset[Row], outDir: String, checkpoint: String,
      channels: Seq[LogPath.Channel]): StreamingQuery =
    foreachBatchFanOut(ds, checkpoint, channels, (df, name) =>
      df.write.mode("append").parquet(s"$outDir/$name"))
      .trigger(Trigger.AvailableNow())
      .start()
}
