package graft.server

import java.io.{ByteArrayOutputStream, InputStream}
import java.net.{InetSocketAddress, URLDecoder, URLEncoder}
import java.nio.file.{Files, Paths}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.Executors
import java.util.concurrent.atomic.AtomicLong
import java.util.zip.GZIPInputStream

import scala.collection.concurrent.TrieMap
import scala.util.control.NonFatal

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.IoxSchema
import graft.operators.Upsert
import graft.sources.LineProtocol

/** The reference's HTTP front door, re-expressed over the Spark engine
  * (src/influxdb_ioxd/http.rs:364 router, :462 write, :595 query):
  *
  *  - `POST /api/v2/write?org=O&bucket=B` — line-protocol body (optionally
  *    gzip per Content-Encoding, 10 MiB cap incl. post-inflate, matching
  *    MAX_SIZE http.rs:345), parsed + appended as a new chunk of the
  *    `O_B` database (org_and_bucket_to_database, data_types/src/names.rs:18).
  *    204 on success, 400 on bad LP / missing params, 413 over size.
  *  - `GET /iox/api/v1/databases/{name}/query?q=SQL&format=pretty|csv|json`
  *    — full SQL over the database's measurements with upsert dedup across
  *    chunks, rendered like influxdb_iox_client/src/format.rs:43-88
  *    (default pretty; content types text/plain, text/csv,
  *    application/json).
  *  - `GET /health` — "OK" (http.rs:662).
  *  - `GET /metrics` — ingest_lines/fields/points_bytes + http_requests
  *    counters as text (http.rs:678, the same counter names the reference
  *    tracks per write at http.rs:498-560).
  *  - `GET /api/v1/partitions?org=O&bucket=B` — partition keys per
  *    measurement (http.rs:698; key = the default `%Y-%m-%d` TimeFormat
  *    template of database_rules.rs:233).
  *
  * The server itself is the JDK's `com.sun.net.httpserver` — a facade, not
  * a data path: bodies are capped micro-batches; all heavy lifting (parse
  * fan-out, dedup, SQL) stays in Spark. Query views register lazily per
  * request so the one-JVM Spark catalog never holds stale state.
  */
class HttpFacade(private[server] val spark: SparkSession, port: Int = 0,
    clockNs: () => Long = () => System.currentTimeMillis() * 1000000L,
    dataDir: Option[String] = None) {
  import HttpFacade._

  /** measurement -> ordered chunks (one per accepted write batch). */
  private val databases = TrieMap.empty[String, Vector[(String, DataFrame)]]

  /** With [[dataDir]] set, the parquet file id backing each chunk of a
    * db's chunk vector (same order); the manifest file records the
    * (fid, measurement) sequence, so a restarted facade can rebuild the
    * exact chunk vector. File ids are never reused — a dropped chunk's
    * directory is simply no longer referenced. */
  private val chunkFiles = TrieMap.empty[String, Vector[Long]]
  private val nextChunkFid = new AtomicLong

  /** Chunk lifecycle stages set by the management actions, keyed by
    * (db, chunk index); a chunk with no entry is OpenMutableBuffer. The
    * chunk STAYS queryable through every stage — only its storage label
    * moves, mirroring the reference's open → closed → moved state machine
    * (chunk_metadata.rs ChunkStorage). */
  private val chunkStages = TrieMap.empty[(String, Int), String]
  private def chunkStage(db: String, idx: Int): String =
    chunkStages.getOrElse((db, idx), "OpenMutableBuffer")

  /** 1.x DELETE tombstones, keyed (db, measurement): each entry is the
    * deleted region as (inclusive lo ns, exclusive hi ns, residual tag
    * predicate). Reads — every path that goes through
    * [[measurementView]], including SQL and the storage RPCs — exclude
    * tombstoned rows; the chunks themselves are immutable, exactly the
    * tombstone model the 1.x storage engine uses. */
  private val tombstones = TrieMap.empty[(String, String),
    Vector[(Option[Long], Option[Long], Option[graft.core.InfluxQl.Expr])]]

  /** In-flight 1.x queries: id → (db, text, start ns). Every /query
    * request runs its Spark jobs under an `influxql-<id>` job group, so
    * KILL QUERY maps onto real job-group cancellation. */
  private val nextQueryId = new java.util.concurrent.atomic.AtomicLong(0L)
  private val runningQueries = TrieMap.empty[Long, (String, String, Long)]

  /** Test hook: register an externally-managed entry (a spec drives a
    * Spark job under the matching group and asserts KILL cancels it). */
  private[graft] def testRegisterQuery(id: Long, db: String,
      text: String): Unit =
    runningQueries.put(id, (db, text, System.nanoTime()))

  /** Registered continuous queries, keyed (db, name) — the 1.x standing
    * downsample registry behind CREATE/SHOW/DROP CONTINUOUS QUERY
    * (services/continuous_querier). Execution: [[runContinuousQueries]]
    * plays the 1.x scheduler tick on demand (specs and embedders call it
    * with a clock; a wall-clock timer is one `scheduleAtFixedRate` away
    * and deliberately not started here — streams belong to
    * `graft.streaming.ContinuousQuery`, which binds the same statement
    * to Structured Streaming for the always-on path). */
  private val continuousQueries =
    TrieMap.empty[(String, String), graft.core.InfluxQl.CreateCq]

  /** Long-running-operations registry (rpc/operations.rs): one
    * structured record per tracked management job — rendered as JSON by
    * the HTTP routes and as `google.longrunning.Operation` protobuf by
    * the gRPC operations service ([[ManagementGrpc]]), both from the
    * same record. */
  private val operations = TrieMap.empty[Long, HttpFacade.OpRecord]
  private val nextOpId = new AtomicLong

  /** Server id (management.rs:55-83): settable once, 0 = unset — the
    * reference's `Server::set_id` SetIdError on re-set. */
  private val serverIdRef = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Known remote servers (management.rs:198-241): id → connection
    * string, upserted/deleted via the management surface. */
  private val remotes = TrieMap.empty[Int, String]

  /** Serving readiness (management.rs:398-405): flipped via
    * SetServingReadiness; surfaced by GetServerStatus-adjacent checks. */
  private val servingReady = new java.util.concurrent.atomic.AtomicBoolean(true)

  /** Per-database rules set via the management surface; a database
    * without an entry runs on `DatabaseRules` defaults (the reference
    * keeps the same registry keyed by DatabaseName, server/src/config.rs). */
  private val rulesStore = TrieMap.empty[String, graft.streaming.DatabaseRules]

  /** The effective rules for `db` (stored or defaults). */
  def rulesOf(db: String): graft.streaming.DatabaseRules =
    rulesStore.getOrElse(db, graft.streaming.DatabaseRules(db))

  // ---------------------------------------------- restart persistence
  // The reference preserves server config in the object store
  // (server/src/config.rs — rules as protobuf under the server's path)
  // and chunk data as parquet, and a restarted server reloads both
  // (tests/end_to_end_cases/management_api.rs: rules survive restart).
  // With `dataDir` set this facade does the same: a rules.pb per
  // database, a server_id file, and every accepted write batch written
  // through to `<db>/chunks/c<fid>` parquet with a manifest pinning the
  // chunk-vector order. Reloaded chunks surface as ObjectStoreOnly —
  // their bytes live on disk, the reference's post-restart stage.
  // Purely in-memory sidecars the reference also rebuilds from scratch
  // on restart (operation records, 1.x DELETE tombstones, remotes)
  // reset. With dataDir = None (the default) nothing is written.

  private def dbDir(db: String): String =
    s"${dataDir.get}/${URLEncoder.encode(db, "UTF-8")}"

  /** Per-DATABASE mutation locks: the HTTP pool is multi-threaded, and
    * the manifest pairs two structures (`databases`, `chunkFiles`) that
    * must advance together — two interleaved appends to one db would
    * otherwise pair file ids with the wrong measurements
    * (cross-measurement corruption after restart). Also taken WITHOUT a
    * dataDir: the DROP path must not lose a concurrent append between
    * its read and write of the chunk vector. The invariant is strictly
    * per-db, so the lock is too — a slow parquet write to one database
    * never convoys writes to another; within one db, holding the lock
    * across the parquet write is the price of a consistent manifest. */
  private val persistLocks = TrieMap.empty[String, Object]
  private def persistLock(db: String): Object =
    persistLocks.getOrElseUpdate(db, new Object)

  /** Crash-safe file replace: write a UNIQUELY-NAMED temp sibling, then
    * atomically rename over the target. A kill mid-write can no longer
    * leave a torn manifest/rules/server_id that would fail every
    * subsequent startup — the old complete file survives until the new
    * one is complete — and the unique temp name keeps concurrent writers
    * of the same file (last-write-wins registries like rules/server_id)
    * from promoting each other's half-written bytes. Orphaned temps from
    * a crash are never read back (the loader looks files up by name). */
  private val tmpSeq = new AtomicLong
  private def atomicWrite(path: java.nio.file.Path,
      bytes: Array[Byte]): Unit = {
    Files.createDirectories(path.getParent)
    val tmp = path.resolveSibling(
      s"${path.getFileName}.${tmpSeq.getAndIncrement()}.tmp")
    Files.write(tmp, bytes)
    Files.move(tmp, path, java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  private def persistRules(r: graft.streaming.DatabaseRules): Unit =
    dataDir.foreach { _ =>
      atomicWrite(Paths.get(dbDir(r.name), "rules.pb"),
        ManagementProto.encodeDatabaseRules(r))
    }

  private def persistServerId(): Unit =
    dataDir.foreach { root =>
      atomicWrite(Paths.get(root, "server_id"),
        serverIdRef.get().toString.getBytes(UTF_8))
    }

  /** Rewrite `db`'s chunk manifest: one `fid measurement` line per chunk
    * in vector order (measurement URL-encoded — names may hold spaces).
    * Call only while holding [[persistLock]]. */
  private def writeManifest(db: String): Unit = {
    val fids = chunkFiles.getOrElse(db, Vector.empty)
    val ms = databases.getOrElse(db, Vector.empty).map(_._1)
    atomicWrite(Paths.get(dbDir(db), "manifest"),
      fids.zip(ms).map { case (fid, m) =>
        s"$fid ${URLEncoder.encode(m, "UTF-8")}"
      }.mkString("\n").getBytes(UTF_8))
  }

  /** Append write-batch chunks to a db's vector; with [[dataDir]] set,
    * write each through to parquet and advance the manifest. Every write
    * path (HTTP LP, write_pb, gRPC WriteEntry, SELECT INTO, 1.x JSON)
    * lands here so durability is uniform. The parquet writes run FIRST:
    * if any fails, neither store advances, so the client's error
    * truthfully means "nothing landed" (no half-applied write that is
    * queryable in memory but absent after restart). */
  private def appendChunks(db: String,
      frames: Seq[(String, DataFrame)]): Unit = persistLock(db).synchronized {
    val fids = dataDir.map { _ =>
      frames.map { case (_, df) =>
        val fid = nextChunkFid.getAndIncrement()
        df.write.mode("overwrite").parquet(s"${dbDir(db)}/chunks/c$fid")
        fid
      }
    }
    databases.updateWith(db) { prev =>
      Some(prev.getOrElse(Vector.empty) ++ frames.toVector)
    }
    fids.foreach { ids =>
      chunkFiles.updateWith(db) { prev =>
        Some(prev.getOrElse(Vector.empty) ++ ids)
      }
      writeManifest(db)
    }
  }

  // reload persisted state (runs before the HTTP listener below opens)
  dataDir.foreach { root =>
    val rootPath = Paths.get(root)
    Files.createDirectories(rootPath)
    val idFile = rootPath.resolve("server_id")
    if (Files.exists(idFile))
      serverIdRef.set(Files.readString(idFile).trim.toInt)
    Option(new java.io.File(root).listFiles()).getOrElse(Array.empty)
      .filter(_.isDirectory).sortBy(_.getName).foreach { d =>
        val db = URLDecoder.decode(d.getName, "UTF-8")
        val rulesFile = new java.io.File(d, "rules.pb")
        if (rulesFile.exists())
          ManagementProto.decodeDatabaseRules(
            Files.readAllBytes(rulesFile.toPath))
            .foreach(r => rulesStore.put(db, r))
        val manifest = new java.io.File(d, "manifest")
        if (manifest.exists()) {
          val entries = Files.readString(manifest.toPath)
            .split("\n").toSeq.filter(_.nonEmpty).map { line =>
              val Array(fid, m) = line.split(" ", 2)
              (fid.toLong, URLDecoder.decode(m, "UTF-8"))
            }
          if (entries.nonEmpty) {
            databases.put(db, entries.map { case (fid, m) =>
              m -> spark.read.parquet(s"${d.getAbsolutePath}/chunks/c$fid")
            }.toVector)
            chunkFiles.put(db, entries.map(_._1).toVector)
            entries.indices.foreach(i =>
              chunkStages((db, i)) = "ObjectStoreOnly")
            val top = entries.map(_._1).max + 1
            nextChunkFid.updateAndGet(cur => math.max(cur, top))
          }
        }
      }
  }

  private val ingestLines = new AtomicLong
  private val ingestFields = new AtomicLong
  private val ingestBytes = new AtomicLong
  private val httpRequests = new AtomicLong

  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
  // daemon threads + explicit shutdown: the facade must never pin the JVM
  // (a lingering non-daemon pool would hang any main() that started one)
  private val pool = Executors.newFixedThreadPool(4, (r: Runnable) => {
    val t = new Thread(r, "http-facade")
    t.setDaemon(true)
    t
  })
  server.setExecutor(pool)
  server.createContext("/", (ex: HttpExchange) => handle(ex))
  server.start()

  /** Bound port (useful with port=0 for tests). */
  def boundPort: Int = server.getAddress.getPort

  def stop(): Unit = {
    server.stop(0)
    pool.shutdownNow()
  }

  /** The merged, upsert-deduplicated view of one measurement — the same
    * scan the engine gives any multi-chunk table (provider.rs chunk stitch
    * + DeduplicateExec): chunks union by name with schema merge, later
    * chunks win per-field on equal (tags, time). */
  def measurementView(db: String, measurement: String): Option[DataFrame] =
    databases.get(db).flatMap { chunks =>
      val mine = chunks.collect { case (m, df) if m == measurement => df }
      val merged =
        if (mine.isEmpty) None
        else if (mine.size == 1) Some(mine.head)
        else {
          val tagged = mine.zipWithIndex.map { case (df, i) =>
            df.withColumn("__seq", lit(i.toLong))
          }
          val merged = IoxSchema.mergeUnion(tagged)
          val pk = merged.schema.fields.collect {
            case f if IoxSchema.categoryOf(f).exists(c =>
              c == IoxSchema.Tag || c == IoxSchema.Time) => f.name
          }.toSeq
          Some(Upsert.dedup(merged, pk, "__seq"))
        }
      merged.map(applyTombstones(db, measurement, _))
    }

  /** Excludes every tombstoned region (DELETE predicates) from a read.
    * A row is deleted if it falls inside ANY recorded region; a null
    * comparison result means "not provably inside" and the row stays. */
  private def applyTombstones(db: String, measurement: String,
      df: DataFrame): DataFrame =
    tombstones.get((db, measurement)) match {
      case None | Some(Vector()) => df
      case Some(regions) =>
        val timeCol = df.schema.fields.collectFirst {
          case f if IoxSchema.categoryOf(f).contains(IoxSchema.Time) => f.name
        }.getOrElse(graft.core.NsTime.TimeColumn)
        regions.foldLeft(df) { case (acc, (lo, hi, rest)) =>
          val inside = Seq(
            lo.map(v => col(timeCol) >= v),
            hi.map(v => col(timeCol) < v),
            rest.map(graft.operators.InfluxQlPlanner.toColumn))
            .flatten.reduceOption(_ && _).getOrElse(lit(true))
          acc.filter(!coalesce(inside, lit(false)))
        }
    }

  def measurements(db: String): Seq[String] =
    databases.get(db).map(_.map(_._1).distinct).getOrElse(Nil)

  // ---------------------------------------------------------------- routing

  private def handle(ex: HttpExchange): Unit = {
    httpRequests.incrementAndGet()
    try {
      val path = ex.getRequestURI.getPath
      (ex.getRequestMethod, path) match {
        case ("POST", "/api/v2/write") => handleWrite(ex)
        case ("POST", "/iox/api/v1/write") => handleDbWrite(ex)
        case ("POST", "/api/v1/write_pb") => handleWritePb(ex)
        case ("POST", "/api/v2/flight/do_get") => handleDoGet(ex)
        case ("POST", "/api/v2/flight/do_put") => handleDoPut(ex)
        case ("POST", StorageService.HttpRoute(method)) =>
          handleStorage(ex, method)
        case ("GET", "/api/v1/storage/capabilities") =>
          respondProto(ex, StorageProto.capabilitiesResponse())
        case ("GET", "/health") => respond(ex, 200, "text/plain", "OK")
        case ("GET", "/metrics") => handleMetrics(ex)
        case ("GET", "/api/v1/partitions") => handlePartitions(ex)
        case ("GET", "/iox/api/v1/chunks") => handleListChunks(ex)
        case ("GET", "/iox/api/v1/databases") => handleListDatabases(ex)
        case ("GET", RulesPath(db)) => handleGetRules(ex, db)
        case ("PUT", RulesPath(db)) => handlePutRules(ex, db)
        case ("GET", "/iox/api/v1/operations") => handleListOperations(ex)
        case ("GET", OperationPath(id)) => handleGetOperation(ex, id.toLong)
        case ("GET", DbPartitionsPath(db)) => handleDbPartitions(ex, db)
        case ("GET", PartitionChunksPath(db, key)) =>
          handlePartitionChunks(ex, db, key)
        case ("GET", PartitionPath(db, key)) => handleGetPartition(ex, db, key)
        case ("POST", NewChunkPath(db, key, table)) =>
          handleNewPartitionChunk(ex, db, key, table)
        case ("POST", CloseChunkPath(db, key, table, id)) =>
          handleClosePartitionChunk(ex, db, key, table, id.toInt)
        case ("GET", QueryPath(db)) => handleQuery(ex, db)
        case ("GET", "/query") => handleInfluxQlQuery(ex)
        case _ => respondJsonError(ex, 404, s"no route for $path")
      }
    } catch {
      case NonFatal(e) =>
        try respondJsonError(ex, 500, Option(e.getMessage).getOrElse(e.getClass.getName))
        catch { case NonFatal(_) => () }
    } finally ex.close()
  }

  private def handleWrite(ex: HttpExchange): Unit = {
    val params = queryParams(ex)
    (params.get("org"), params.get("bucket")) match {
      case (Some(org), Some(bucket)) =>
        val gzipped = Option(ex.getRequestHeaders.getFirst("Content-Encoding")) match {
          case None => false
          case Some("gzip") => true
          case Some(other) =>
            respondJsonError(ex, 400, s"invalid content encoding: $other"); return
        }
        readBody(ex.getRequestBody, gzipped) match {
          case None => respondJsonError(ex, 413,
            s"request size exceeds $MaxBodySize bytes")
          case Some(bytes) =>
            writeLines(dbName(org, bucket), new String(bytes, UTF_8),
                bytes.length) match {
              case Right(_) => ex.sendResponseHeaders(204, -1)
              case Left(err) => respondJsonError(ex, 400,
                s"error parsing line protocol: $err")
            }
        }
      case _ => respondJsonError(ex, 400, "missing org/bucket query parameters")
    }
  }

  /** Db-addressed LP write — the downstream hop of shard routing (the
    * reference's write_entry gRPC, server/src/lib.rs:775: addressed by
    * db_name, writes LOCALLY — a forwarded write is never re-sharded). */
  private def handleDbWrite(ex: HttpExchange): Unit = {
    queryParams(ex).get("db") match {
      case None => respondJsonError(ex, 400, "missing db query parameter")
      case Some(db) =>
        // same Content-Encoding contract as the v2 write route: external
        // clients may gzip this route too (forwarded writes never do)
        val gzipped = Option(ex.getRequestHeaders.getFirst("Content-Encoding")) match {
          case None => false
          case Some("gzip") => true
          case Some(other) =>
            respondJsonError(ex, 400, s"invalid content encoding: $other"); return
        }
        readBody(ex.getRequestBody, gzipped) match {
          case None => respondJsonError(ex, 413,
            s"request size exceeds $MaxBodySize bytes")
          case Some(bytes) =>
            writeLinesLocal(db, new String(bytes, UTF_8), bytes.length) match {
              case Right(_) => ex.sendResponseHeaders(204, -1)
              case Left(err) => respondJsonError(ex, 400,
                s"error parsing line protocol: $err")
            }
        }
    }
  }

  /** The `write_pb` service (src/influxdb_ioxd/rpc/write_pb.rs, served
    * here over the same HTTP transport bridge as the storage routes): a
    * protobuf WriteRequest carrying a columnar DatabaseBatch. Decoded
    * frames land in the SAME per-measurement store as line-protocol
    * writes — the engine's counterpart of both paths funneling into one
    * Entry (entry.rs:306 pb_to_entry). The database comes from
    * database_name (a `?db=` param overrides, as on the storage routes).
    */
  /** Columnar-batch ingest core shared by the HTTP `write_pb` route and
    * the gRPC `WriteEntry` flatbuffers path: frames land in the SAME
    * per-measurement store as LP writes, with the same per-write
    * counters (rows in, non-null field cells in, body bytes in). */
  private[server] def writeBatches(db: String,
      tables: Vector[WriteProto.PbTableBatch], bodyBytes: Int): Unit = {
    val frames = WriteProto.toFrames(spark,
      WriteProto.PbDatabaseBatch(db, tables))
    appendChunks(db, frames.toVector)
    ingestLines.addAndGet(tables.iterator.map(_.rowCount.toLong).sum)
    ingestFields.addAndGet(tables.iterator.flatMap { t =>
      t.columns.iterator.filter(_.semanticType == WriteProto.Semantic.Field)
        .map(c => t.rowCount.toLong - c.nullCount(t.rowCount))
    }.sum)
    ingestBytes.addAndGet(bodyBytes.toLong)
  }

  private def handleWritePb(ex: HttpExchange): Unit = {
    val raw = storageBodyBytes(ex).getOrElse(return)
    try {
      val batch = WriteProto.decodeWriteRequest(raw)
      val db = queryParams(ex).get("db").getOrElse(batch.databaseName)
      if (db.isEmpty) {
        respondJsonError(ex, 400, "database_name is required"); return
      }
      writeBatches(db, batch.tables, raw.length)
      respondProto(ex, Array.emptyByteArray) // WriteResponse {}
    } catch {
      case WriteProto.WritePbException(msg) =>
        respondJsonError(ex, 400, s"invalid write request: $msg")
      case NonFatal(e) =>
        respondJsonError(ex, 400, s"bad protobuf request: ${e.getMessage}")
    }
  }

  private def handleQuery(ex: HttpExchange, db: String): Unit = {
    val params = queryParams(ex)
    params.get("q") match {
      case None => respondJsonError(ex, 400, "missing q parameter")
      case Some(q) =>
        val format = params.getOrElse("format", "pretty")
        if (!Set("pretty", "csv", "json").contains(format)) {
          respondJsonError(ex, 400, s"unknown format type: $format. " +
            "Expected one of 'pretty', 'csv' or 'json'"); return
        }
        // remote query routing (the read twin of shard-routed writes,
        // reference grpc-router + server/src/lib.rs remotes): when the
        // db's shard targets map the query's tables to configured
        // remotes, the router proxies or scatter-gathers instead of
        // planning locally. Responds and returns true when routed.
        if (routeQueryRemote(ex, db, q, format)) return
        planAndRespond(ex, db, q, format, extraViews = Nil)
    }
  }

  /** Plan SQL `q` over the db's measurement views (+ `extraViews`, which
    * win on name collision — the scatter-gather path injects fetched
    * remote tables): the one planning path of the SQL query endpoint and
    * Flight do_get on both transports. Planning happens under the shared
    * temp-view catalog lock, streaming after: spark.sql analyzes
    * eagerly, so the plan is bound to this request's views before the
    * lock releases. An unknown database is a 404, a query that does not
    * plan a 400. */
  private[server] def planSql(db: String, q: String,
      extraViews: Seq[(String, DataFrame)] = Nil)
      : Either[(Int, String), DataFrame] =
    // existence, not emptiness: a freshly created or drop-emptied
    // database is real — queries over it should plan (and fail with
    // table-not-found where warranted)
    if (!hasDatabase(db)) Left((404, s"database not found: $db"))
    else {
      // system tables ride the query path like the reference's
      // system.chunks/columns/... (query_tests sql.rs:260-361 runs them
      // through the db's query engine) — registered only when the query
      // text mentions them, so the data hot path never pays the
      // metadata collection
      val sysViews =
        if (q.toLowerCase(java.util.Locale.ROOT).contains("system_"))
          systemViews(db)
        else Nil
      HttpFacade.synchronized {
        try {
          HttpFacade.registerMeasurementViews(spark,
            dbTables(db).toSeq ++ sysViews ++ extraViews)
          Right(spark.sql(q))
        } catch {
          case NonFatal(e) => Left((400,
            s"query error: ${Option(e.getMessage).getOrElse(e.getClass.getName)}"))
        }
      }
    }

  /** Plan `q` ([[planSql]]) and stream the response. */
  private def planAndRespond(ex: HttpExchange, db: String, q: String,
      format: String, extraViews: Seq[(String, DataFrame)]): Unit = {
        planSql(db, q, extraViews) match {
          case Left((status, err)) => respondJsonError(ex, status, err)
          case Right(df) if format == "pretty" =>
            // pretty needs global column widths, so it stays eager — it is
            // the interactive debug format, matching the reference's own
            // collected pretty-print (format.rs:43)
            try respond(ex, 200, contentType(format), renderResult(df, format))
            catch { case NonFatal(e) => respondJsonError(ex, 400,
              s"query error: ${Option(e.getMessage).getOrElse(e.getClass.getName)}") }
          case Right(df) =>
            // csv/json stream incrementally (chunked transfer): at most one
            // partition of rows is ever held on the driver, so SELECT *
            // over a huge table cannot OOM it — the upgrade the reference
            // TODO-notes for its own collected path (flight.rs:156)
            ex.getResponseHeaders.set("Content-Type", contentType(format))
            ex.sendResponseHeaders(200, 0) // chunked: length unknown up front
            val os = ex.getResponseBody
            // headers are sent: a mid-stream execution failure cannot
            // change the status anymore, so make the truncation DETECTABLE
            // instead of silent — write an error sentinel that breaks the
            // payload's well-formedness (a bare error object after the
            // closing bracket for json, a comment line for csv) before
            // closing the chunked stream
            try writeResult(df, format, os)
            catch { case NonFatal(e) =>
              val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
              try {
                val sentinel =
                  if (format == "json") s"""{"error":${jsonStr(msg)}}"""
                  else s"\n# ERROR: query failed mid-stream: $msg\n"
                os.write(sentinel.getBytes(UTF_8))
              } catch { case NonFatal(_) => () }
            } finally os.close()
        }
  }

  /** The db's system tables as queryable views over the facade's write
    * store — the HTTP twin of the reference serving system.chunks /
    * system.columns / system.chunk_columns / system.operations through
    * its query engine (server/src/db/system_tables.rs; queried by
    * query_tests sql.rs:260-361 and scraped by the CLI REPL's OBSERVER
    * mode). Chunk granularity here is the facade's write batches (the
    * management API's chunk ids); the durable ChunkedTable stages serve
    * theirs through SqlFrontend.registerChunked. The chunk/operation
    * views are metadata-sized; chunk_columns is LAZY (per-column aggs
    * run only if the view is actually queried). */
  private def systemViews(db: String): Seq[(String, DataFrame)] = {
    import spark.implicits._
    val sysColumns = graft.sources.SqlFrontend.systemColumns(spark, dbTables(db))
    val sysChunks = chunkRows(db)
      .map(c => (c.id.toLong, c.partitionKey, c.table, c.storage, c.rowCount))
      .toDF("id", "partition_key", "table_name", "storage", "row_count")
    val frames = databases.getOrElse(db, Vector.empty).zipWithIndex
    val chunkColFrames = frames.flatMap { case ((m, df), i) =>
      df.columns.toSeq.map { c =>
        df.agg(count(col(c)).as("row_count"),
            min(col(c)).cast("string").as("min_value"),
            max(col(c)).cast("string").as("max_value"))
          .select(lit(i.toLong).as("chunk_id"), lit("").as("partition_key"),
            lit(m).as("table_name"), lit(c).as("column_name"),
            lit(chunkStage(db, i)).as("storage"), col("row_count"),
            col("min_value"), col("max_value"))
      }
    }
    val sysChunkColumns =
      if (chunkColFrames.isEmpty)
        Seq.empty[(Long, String, String, String, String, Long, String, String)]
          .toDF("chunk_id", "partition_key", "table_name", "column_name",
            "storage", "row_count", "min_value", "max_value")
      else chunkColFrames.reduce(_ unionByName _)
    val sysOps = operationsList
      .map(r => (r.id, if (r.cancelled) "Cancelled" else "Complete",
        r.kind, r.dbName, r.partitionKey, r.tableName,
        r.chunkId.map(_.toLong).getOrElse(-1L), r.description))
      .toDF("id", "status", "kind", "db_name", "partition_key",
        "table_name", "chunk_id", "description")
    Seq("system_columns" -> sysColumns, "system_chunks" -> sysChunks,
      "system_chunk_columns" -> sysChunkColumns,
      "system_operations" -> sysOps)
  }

  /** Remote QUERY routing — the read twin of [[writeLines]]'s shard
    * routing (reference: the grpc-router crate's query fan-out role over
    * `server/src/lib.rs` remotes). When the db's rules carry table-regex
    * shard targets, the tables a query references resolve exactly like a
    * write's lines: a matched table's data lives WHOLLY at its shard's
    * remote (the write router forwarded every matching line there), an
    * unmatched table is local.
    *
    *  - every referenced table on ONE remote → the whole query proxies to
    *    that remote (full fidelity: its bytes stream back as-is);
    *  - tables split across remotes/local → scatter-gather: each remote
    *    table is fetched (`SELECT * FROM t` as json) and registered as a
    *    view, then the query plans LOCALLY over the union catalog — joins
    *    across shards compose for free. Fetched types ride json inference
    *    (ints→long, floats→double, tags→string, time→long), fine for the
    *    facade role; the single-remote proxy path keeps exact types.
    *
    * Returns true when it responded (routed or routing error); false
    * means all-local — caller plans normally. A matched shard id with no
    * configured remote is ShardNotFound, like the write side. */
  private def routeQueryRemote(ex: HttpExchange, db: String, q: String,
      format: String): Boolean = {
    val targets = rulesStore.get(db).flatMap(_.shardConfig)
      .map(_.specificTargets).getOrElse(Nil)
    if (targets.isEmpty) return false
    // referenced single-part table names, from Spark's own parser (no
    // regex over SQL text); parse failures fall through to the local
    // path, whose error reporting is the canonical one
    val tables: Seq[String] =
      try spark.sessionState.sqlParser.parsePlan(q).collect {
        case r: org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
            if r.multipartIdentifier.size == 1 => r.multipartIdentifier.head
      }.distinct
      catch { case NonFatal(_) => Nil }
    val mapped = tables.flatMap(t =>
      targets.find(_._1.matches(t)).map(t -> _._2))
    if (mapped.isEmpty) return false
    val byAddr = mapped.map { case (t, shard) =>
      remotes.get(shard) match {
        case None =>
          respondJsonError(ex, 400, s"shard not found: $shard") // ShardNotFound
          return true
        case Some(addr) => (t, addr)
      }
    }
    if (byAddr.map(_._2).distinct.size == 1 && mapped.size == tables.size) {
      // whole query lives at one remote: proxy it verbatim
      forwardQuery(byAddr.head._2, db, q, format) match {
        case Left(err) => respondJsonError(ex, 502, err)
        case Right((status, ctype, body)) =>
          respond(ex, status, ctype, new String(body, UTF_8))
      }
      return true
    }
    // scatter-gather: fetch each remote table, then plan locally
    val fetched = byAddr.map { case (t, addr) =>
      forwardQuery(addr, db, s"SELECT * FROM $t", "json") match {
        case Left(err) => respondJsonError(ex, 502, err); return true
        case Right((status, _, body)) if status >= 400 =>
          respondJsonError(ex, 502,
            s"remote $addr failed for table $t: ${new String(body, UTF_8).take(200)}")
          return true
        case Right((_, _, body)) =>
          import spark.implicits._
          t -> spark.read.json(
            spark.createDataset(Seq(new String(body, UTF_8))))
      }
    }
    planAndRespond(ex, db, q, format, extraViews = fetched)
    true
  }

  /** One downstream query to a configured remote; returns (status,
    * content-type, body) so the proxy path can pass the remote's answer
    * through unchanged. */
  private def forwardQuery(addr: String, db: String, q: String,
      format: String): Either[String, (Int, String, Array[Byte])] = {
    val base = if (addr.startsWith("http://") || addr.startsWith("https://"))
      addr.stripSuffix("/") else s"http://${addr.stripSuffix("/")}"
    try {
      val conn = new java.net.URI(
        s"$base/iox/api/v1/databases/${HttpFacade.urlEnc(db)}/query" +
          s"?q=${HttpFacade.urlEnc(q)}&format=${HttpFacade.urlEnc(format)}")
        .toURL.openConnection().asInstanceOf[java.net.HttpURLConnection]
      conn.setConnectTimeout(5000)
      conn.setReadTimeout(30000)
      val status = conn.getResponseCode
      val is = if (status >= 400) conn.getErrorStream else conn.getInputStream
      val body = if (is == null) Array.emptyByteArray else is.readAllBytes()
      val ctype = Option(conn.getHeaderField("Content-Type"))
        .getOrElse("application/json")
      conn.disconnect()
      Right((status, ctype, body))
    } catch {
      case e: java.io.IOException =>
        Left(s"no remote reachable at $addr: ${e.getMessage}") // NoRemoteReachable
    }
  }

  /** InfluxDB 1.x compatibility query endpoint (`GET /query?db=..&q=..`,
    * the shape every 1.x client library speaks): the q parameter is
    * InfluxQL text, parsed by [[graft.core.InfluxQl]] and planned onto
    * the operator layer by [[graft.operators.InfluxQlPlanner]] over this
    * facade's measurement views (tag/time roles come from the ingest
    * schema metadata). The response is the 1.x JSON document — one series
    * object per tag set with columns/values arrays — with time rendered
    * as epoch ns (the `epoch=ns` convention; this engine's time axis is
    * ns-precise). Rows stream through `toLocalIterator` and series split
    * on the planner's (tags, time) ordering, so large results never
    * collect on the facade; errors surface INSIDE the results array with
    * HTTP 200, exactly as 1.x clients expect. */
  /** Tag/time roles for a measurement view, read from the ingest schema
    * category metadata (every other column is a field). */
  private def asMeasurement(df: DataFrame): graft.operators.InfluxMeasurement = {
    val tags = df.schema.fields.collect {
      case f if IoxSchema.categoryOf(f).contains(IoxSchema.Tag) => f.name
    }.toSeq
    val timeCol = df.schema.fields.collectFirst {
      case f if IoxSchema.categoryOf(f).contains(IoxSchema.Time) => f.name
    }.getOrElse(graft.core.NsTime.TimeColumn)
    graft.operators.InfluxMeasurement(df, timeCol, tags)
  }

  private def handleInfluxQlQuery(ex: HttpExchange): Unit = {
    val params = queryParams(ex)
    val db = params.getOrElse("db", "")
    params.get("q") match {
      case None => respondJsonError(ex, 400, "missing q parameter")
      case Some(q) =>
        // 1.x defines SHOW DATABASES / SHOW QUERIES / KILL QUERY as
        // database-less — client libraries probe connectivity with a
        // db-less SHOW DATABASES, which must not 404. A db param is
        // required only when some statement actually reads a database;
        // a db created via the management surface but never written to
        // also resolves (hasDatabase, not databases.contains).
        val dbFree =
          try graft.core.InfluxQl.parseAll(q).forall {
            case sh: graft.core.InfluxQl.Show =>
              sh.what == "databases" || sh.what == "queries" ||
                sh.what == "continuous queries"
            case _: graft.core.InfluxQl.Kill => true
            // CREATE/DROP CONTINUOUS QUERY name their db in the ON clause
            case _: graft.core.InfluxQl.CreateCq => true
            case d: graft.core.InfluxQl.Drop
              if d.what == "continuous query" && d.db.isDefined => true
            case _ => false
          } catch { case NonFatal(_) => false }
        if (!dbFree && !hasDatabase(db)) {
          respondJsonError(ex, 404, s"database not found: $db"); return
        }
        // 1.x `epoch=` time-unit selection (default ns, this engine's axis)
        val epochDiv = params.get("epoch") match {
          case None | Some("ns") => 1L
          case Some("u") | Some("us") => 1000L
          case Some("ms") => 1000000L
          case Some("s") => 1000000000L
          case Some("m") => 60L * 1000000000L
          case Some("h") => 3600L * 1000000000L
          case Some(other) =>
            respondJsonError(ex, 400, s"invalid epoch unit: $other"); return
        }
        val parsed =
          try Right(graft.core.InfluxQl.parseAll(q))
          catch { case NonFatal(e) =>
            Left(Option(e.getMessage).getOrElse(e.getClass.getName)) }
        parsed match {
          case Left(err) =>
            respond(ex, 200, "application/json",
              s"""{"results":[{"statement_id":0,"error":${jsonStr(err)}}]}""")
          case Right(stmts) =>
            val qid = nextQueryId.incrementAndGet()
            runningQueries.put(qid, (db, q, System.nanoTime()))
            // this handler thread runs every Spark job of the request, so
            // the thread-local job group covers planning AND streaming
            spark.sparkContext.setJobGroup(s"influxql-$qid", q,
              interruptOnCancel = true)
            try {
            // plan all statements under the catalog lock, then stream
            val planned = HttpFacade.synchronized {
              stmts.map { stmt =>
                try planStatement(db, stmt)
                catch { case NonFatal(e) =>
                  Left(Option(e.getMessage).getOrElse(e.getClass.getName)) }
              }
            }
            ex.getResponseHeaders.set("Content-Type", "application/json")
            ex.sendResponseHeaders(200, 0)
            val os = ex.getResponseBody
            try {
              val w = new java.io.BufferedWriter(
                new java.io.OutputStreamWriter(os, UTF_8), 64 * 1024)
              w.write("""{"results":[""")
              planned.zipWithIndex.foreach { case (p, i) =>
                if (i > 0) w.write(",")
                p match {
                  case Left(err) =>
                    w.write(s"""{"statement_id":$i,"error":${jsonStr(err)}}""")
                  case Right(None) => // write-style statement: bare ack
                    w.write(s"""{"statement_id":$i}""")
                  case Right(Some((mName, tags, df))) =>
                    w.write(s"""{"statement_id":$i,"series":[""")
                    // a mid-stream execution failure cannot change the
                    // status anymore; the in-band error keeps it visible
                    // (1.x "partial" convention)
                    try { writeSeriesArray(w, mName, tags, df, epochDiv); w.write("]}") }
                    catch { case NonFatal(e) =>
                      w.write(s"""],"partial":true,"error":${jsonStr(
                        Option(e.getMessage).getOrElse(e.getClass.getName))}}""")
                    }
                }
              }
              w.write("]}")
              w.flush()
            } finally os.close()
            } finally {
              spark.sparkContext.clearJobGroup()
              runningQueries.remove(qid)
            }
        }
    }
  }

  /** Plans one 1.x statement against `db` (caller holds the catalog
    * lock): returns (series name, tag columns, frame) or an in-band
    * error string. */
  private def planStatement(db: String, stmt: graft.core.InfluxQl.Stmt)
      : Either[String, Option[(String, Seq[String], DataFrame)]] = stmt match {
    case sel: graft.core.InfluxQl.Select =>
      // subqueries may nest: resolve the root measurement for the series
      // name, and hand the planner the whole catalog
      def root(s: graft.core.InfluxQl.Select): String =
        s.fromSub.map(root).getOrElse(s.from)
      val name = root(sel)
      val msAll = measurements(db).flatMap { m =>
        measurementView(db, m).map(df => m -> asMeasurement(df))
      }.toMap
      if (!msAll.contains(name)) Left(s"measurement not found: $name")
      else if (sel.into.isDefined) {
        // `SELECT … INTO <target>`: run now and land the result in the
        // SAME per-measurement store as LP/protobuf writes (1.x
        // back-reference semantics: GROUP BY dims become tags, aggregate
        // columns become fields, a time-less aggregate lands at epoch 0).
        // The snapshot is pinned with localCheckpoint so later source
        // writes cannot rewrite history, like a physical 1.x INTO write.
        // KNOWN TRADEOFF: the checkpoint executes the INTO's Spark job
        // while the shared planning lock is held, so a long INTO delays
        // other requests' PLANNING (their streams are unaffected) — at
        // the facade's micro-batch scale that beats the alternative of
        // snapshotting without catalog consistency.
        import org.apache.spark.sql.types.MetadataBuilder
        val target = sel.into.get
        val out = graft.operators.InfluxQlPlanner.plan(msAll, sel,
          nowNs = Some(clockNs()))
        val tagSet = msAll.values.flatMap(_.tagCols).toSet + "name"
        def meta(cat: String) = new MetadataBuilder()
          .putString(IoxSchema.CategoryKey, cat).build()
        val metaCols = out.schema.fields.toSeq.map { f =>
          val cat =
            if (f.name == "time") IoxSchema.Time
            else if (tagSet(f.name)) IoxSchema.Tag
            else IoxSchema.Field
          col(f.name).as(f.name, meta(cat))
        }
        val projected =
          if (out.columns.contains("time")) out.select(metaCols: _*)
          else out.select(metaCols :+ lit(0L).as("time", meta(IoxSchema.Time)): _*)
        val snap = projected.localCheckpoint()
        appendChunks(db, Seq(target -> snap))
        import spark.implicits._
        Right(Some(("result", Seq.empty[String],
          Seq((0L, snap.count())).toDF("time", "written"))))
      } else {
        val df = graft.operators.InfluxQlPlanner.plan(msAll, sel,
          nowNs = Some(clockNs()))
        val tagSet = msAll.values.flatMap(_.tagCols).toSet
        Right(Some((name, df.columns.filter(tagSet).toSeq, df)))
      }
    case sh: graft.core.InfluxQl.Show if sh.what == "databases" =>
      import spark.implicits._
      Right(Some(("databases", Seq.empty[String],
        databases.keys.toSeq.sorted.toDF("name"))))
    case sh: graft.core.InfluxQl.Show if sh.what == "retention policies" =>
      // one implicit autogen policy per database: this engine's retention
      // lives in the lifecycle rules, but 1.x clients probe this on
      // connect and expect the default row
      import spark.implicits._
      Right(Some(("retention policies", Seq.empty[String],
        Seq(("autogen", "0s", "168h0m0s", 1L, true))
          .toDF("name", "duration", "shardGroupDuration", "replicaN",
            "default"))))
    case sh: graft.core.InfluxQl.Show if sh.what == "queries" =>
      // ops management: one row per in-flight /query request (this very
      // statement included, like 1.x); duration in whole microseconds
      import spark.implicits._
      val now = System.nanoTime()
      val rows = runningQueries.toSeq.map { case (id, (qdb, text, t0)) =>
        (id, text, qdb, (now - t0) / 1000L)
      }.sortBy(_._1)
      Right(Some(("queries", Seq.empty[String],
        rows.toDF("qid", "query", "database", "duration_us"))))
    case graft.core.InfluxQl.Kill(id) =>
      if (!runningQueries.contains(id)) Left(s"no such query id: $id")
      else {
        spark.sparkContext.cancelJobGroup(s"influxql-$id")
        runningQueries.remove(id)
        Right(None)
      }
    case cq: graft.core.InfluxQl.CreateCq =>
      // 1.x CQ validation (services/continuous_querier + statement.go):
      // the embedded SELECT must write somewhere (INTO) and must have a
      // schedule to derive (GROUP BY time() or RESAMPLE EVERY);
      // re-creating an existing name on the same db is an error
      if (cq.sel.into.isEmpty)
        Left("continuous query's SELECT must name an INTO target")
      else if (cq.sel.groupTime.isEmpty && cq.resampleEveryNs.isEmpty)
        Left("continuous query needs GROUP BY time(...) or RESAMPLE EVERY")
      else if (continuousQueries.putIfAbsent((cq.db, cq.name), cq).isDefined)
        Left(s"continuous query already exists: ${cq.name}")
      else Right(None)
    case sh: graft.core.InfluxQl.Show if sh.what == "continuous queries" =>
      // 1.x prints each registered CQ back as its CREATE statement,
      // grouped by database. 1.x shapes this as one series PER database;
      // here the database rides as a tag column (the same information,
      // one frame — the series writer splits on tag tuples)
      import spark.implicits._
      val rows = continuousQueries.toSeq.sortBy(k => (k._1._1, k._1._2))
        .map { case ((cdb, name), c) =>
          (cdb, name, graft.core.InfluxQl.render(c))
        }
      Right(Some(("continuous queries", Seq("database"),
        rows.toDF("database", "name", "query"))))
    case graft.core.InfluxQl.Drop("continuous query", name, _, dbOpt) =>
      val key = (dbOpt.getOrElse(db), name)
      if (continuousQueries.remove(key).isDefined) Right(None)
      else Left(s"continuous query not found: $name")
    case sh: graft.core.InfluxQl.Show =>
      val ms = measurements(db).flatMap { m =>
        measurementView(db, m).map(df => m -> asMeasurement(df))
      }.toMap
      Right(Some((sh.what, Seq.empty[String],
        graft.operators.InfluxQlPlanner.showPlan(ms, sh))))
    case graft.core.InfluxQl.Delete(from, where) =>
      if (!measurements(db).contains(from))
        Left(s"measurement not found: $from")
      else {
        val tags = measurementView(db, from).map(asMeasurement(_).tagCols)
          .getOrElse(Seq.empty)
        // DELETE ... WHERE time < now() - 7d is the canonical retention
        // command: resolve now() against the server clock before the
        // time-bound split, exactly like the SELECT path
        val (lo, hi, rest) = where
          .map(e => graft.operators.InfluxQlPlanner.splitTime(
            graft.operators.InfluxQlPlanner.resolveNow(e, Some(clockNs()))))
          .getOrElse((None, None, None))
        // 1.x forbids field predicates in DELETE: every residual
        // reference must be a tag
        rest.foreach { e =>
          val refs = collectRefs(e)
          val bad = refs.filterNot(tags.contains)
          if (bad.nonEmpty)
            return Left(s"DELETE supports time and tag conditions only; " +
              s"not tags: ${bad.mkString(", ")}")
        }
        tombstones.updateWith((db, from)) {
          case Some(v) => Some(v :+ ((lo, hi, rest)))
          case None => Some(Vector((lo, hi, rest)))
        }
        Right(None) // ack: a results entry with no series
      }
    case graft.core.InfluxQl.Drop("measurement", m, _, _) =>
      // the whole measurement goes away: its chunks AND its tombstones.
      // Chunk stages are keyed by position in the db's chunk vector, so
      // the surviving chunks' stage labels must migrate to their new
      // indices — otherwise a ReadBuffer mark orphaned at an old index
      // attaches to whatever chunk slides into it (wrong ListChunks
      // storage, wrong already-moved lifecycle errors)
      if (!measurements(db).contains(m)) Left(s"measurement not found: $m")
      else {
        // persistLock, not a bare updateWith: TrieMap.updateWith may
        // re-invoke its remap function on CAS contention, so side
        // effects (stage remapping, chunkFiles, the manifest) must live
        // OUTSIDE any retry-able closure; the lock also pins the
        // databases/chunkFiles pair against a concurrent append
        persistLock(db).synchronized {
          databases.get(db).foreach { chunks =>
            val survivors = chunks.zipWithIndex.filterNot(_._1._1 == m)
            val remapped = survivors.zipWithIndex.flatMap {
              case ((_, oldIdx), newIdx) =>
                chunkStages.get((db, oldIdx)).map(newIdx -> _)
            }.toMap
            chunkStages.keys.filter(_._1 == db).foreach(chunkStages.remove)
            remapped.foreach { case (i, stage) =>
              chunkStages((db, i)) = stage
            }
            // the persisted manifest tracks the vector: drop the file
            // ids at the dropped positions, keep survivor order
            chunkFiles.updateWith(db)(_.map { fids =>
              fids.zip(chunks.map(_._1)).filterNot(_._2 == m).map(_._1)
            })
            databases.put(db, survivors.map(_._1))
          }
          dataDir.foreach(_ => writeManifest(db))
        }
        tombstones.remove((db, m))
        Right(None)
      }
    case graft.core.InfluxQl.Drop("series", m, where, _) =>
      // DROP SERIES = a tombstone across ALL time; 1.x forbids time
      // bounds and field predicates here — only tag conditions select
      // series
      if (!measurements(db).contains(m)) Left(s"measurement not found: $m")
      else {
        val tags = measurementView(db, m).map(asMeasurement(_).tagCols)
          .getOrElse(Seq.empty)
        where.foreach { e =>
          val bad = collectRefs(e).filterNot(tags.contains)
          if (bad.nonEmpty)
            return Left("DROP SERIES selects by tag conditions only; " +
              s"not tags: ${bad.mkString(", ")}")
        }
        tombstones.updateWith((db, m)) {
          case Some(v) => Some(v :+ ((None, None, where)))
          case None => Some(Vector((None, None, where)))
        }
        Right(None)
      }
    case graft.core.InfluxQl.Drop(what, _, _, _) =>
      Left(s"unsupported DROP $what")
    case graft.core.InfluxQl.Explain(sel, analyze) =>
      // the 1.x plan-inspection statement, answered with the engine's
      // native plan: EXPLAIN = formatted Catalyst logical->physical,
      // ANALYZE = the final AQE-resolved executed plan after running
      def root(s0: graft.core.InfluxQl.Select): String =
        s0.fromSub.map(root).getOrElse(s0.from)
      val msAll = measurements(db).flatMap { m =>
        measurementView(db, m).map(df => m -> asMeasurement(df))
      }.toMap
      if (!msAll.contains(root(sel)))
        Left(s"measurement not found: ${root(sel)}")
      else {
        val df = graft.operators.InfluxQlPlanner.plan(msAll, sel,
          nowNs = Some(clockNs()))
        val text =
          if (analyze) {
            df.write.format("noop").mode("overwrite").save()
            df.queryExecution.executedPlan.toString
          } else df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
        import spark.implicits._
        Right(Some(("explain", Seq.empty[String],
          text.linesIterator.toSeq.toDF("QUERY PLAN"))))
      }
  }

  private def collectRefs(e: graft.core.InfluxQl.Expr): Seq[String] = e match {
    case graft.core.InfluxQl.Ref(n) => Seq(n)
    case graft.core.InfluxQl.Bin(_, l, r) => collectRefs(l) ++ collectRefs(r)
    case _ => Seq.empty
  }

  /** One 1.x continuous-query scheduler tick (continuous_querier
    * ExecuteContinuousQuery): for every registered CQ, recompute the
    * window ending at the last interval boundary ≤ `nowNs` — interval =
    * RESAMPLE EVERY, else the SELECT's GROUP BY time() — going back
    * RESAMPLE FOR (else one interval), and land the result through the
    * SELECT ... INTO write path (GROUP BY dims become tags, aggregates
    * become fields, same per-measurement chunk store as LP writes).
    * Time bounds are injected as a WHERE conjunct, so the planner's
    * normal time-split handles them; a CQ whose source measurement does
    * not exist yet reports its error instead of throwing (1.x logs and
    * moves on). Returns one (db, name, rowsWritten | -1 on error) per CQ
    * in (db, name) order. */
  def runContinuousQueries(nowNs: Long): Seq[(String, String, Long)] = {
    import graft.core.InfluxQl._
    continuousQueries.toSeq.sortBy(k => (k._1._1, k._1._2)).map {
      case ((cdb, name), cq) =>
        val interval =
          cq.resampleEveryNs.orElse(cq.sel.groupTime.map(_.everyNs)).get
        val end = nowNs - java.lang.Math.floorMod(nowNs, interval)
        val start = end - cq.resampleForNs.getOrElse(interval)
        val bound = Bin("and",
          Bin(">=", Ref("time"), IntLit(start)),
          Bin("<", Ref("time"), IntLit(end)))
        val bounded = cq.sel.copy(where =
          Some(cq.sel.where.map(w => Bin("and", w, bound)).getOrElse(bound)))
        val planned = HttpFacade.synchronized {
          try planStatement(cdb, bounded)
          catch { case NonFatal(e) => Left(String.valueOf(e.getMessage)) }
        }
        planned match {
          case Right(Some((_, _, ack))) =>
            // the INTO path acks with one (time, written) row
            (cdb, name, ack.select(col("written")).head().getLong(0))
          case Right(None) => (cdb, name, 0L)
          case Left(_) => (cdb, name, -1L)
        }
    }
  }

  /** Streams one statement's series objects (no enclosing brackets):
    * consecutive rows sharing a tag tuple form one series, split on the
    * planner's (tags, time) ordering. */
  private def writeSeriesArray(w: java.io.Writer, mName: String,
      tags: Seq[String], df: DataFrame, epochDiv: Long = 1L): Unit = {
    import scala.jdk.CollectionConverters._
    val cols = df.columns.toSeq
    val tagIdx = cols.zipWithIndex.filter { case (c, _) => tags.contains(c) }
    val valIdx = cols.zipWithIndex.filterNot { case (c, _) => tags.contains(c) }
    var curTags: Seq[Any] = null
    var firstSeries = true
    var firstRow = true
    df.toLocalIterator().asScala.foreach { r =>
      val tvals = tagIdx.map { case (_, i) => r.get(i) }
      if (curTags == null || tvals != curTags) {
        if (curTags != null) w.write("]}")
        if (!firstSeries) w.write(",")
        firstSeries = false
        curTags = tvals
        w.write(s"""{"name":${jsonStr(mName)}""")
        if (tagIdx.nonEmpty)
          w.write(tagIdx.map { case (c, i) =>
            s"${jsonStr(c)}:${jsonVal(r.get(i))}"
          }.mkString(""","tags":{""", ",", "}"))
        w.write(valIdx.map { case (c, _) => jsonStr(c) }
          .mkString(""","columns":[""", ",", """],"values":["""))
        firstRow = true
      }
      if (!firstRow) w.write(",")
      firstRow = false
      w.write(valIdx.map { case (c, i) =>
        // 1.x epoch= scaling: integer-truncate the ns time axis
        r.get(i) match {
          case t: java.lang.Long if c == "time" && epochDiv != 1L =>
            jsonVal(java.lang.Long.valueOf(t.longValue / epochDiv))
          case v => jsonVal(v)
        }
      }.mkString("[", ",", "]"))
    }
    if (curTags != null) w.write("]}")
  }

  /** Arrow Flight do_get with HTTP as the transport stand-in
    * (flight.rs:158): the request body IS the Flight ticket — JSON
    * `{"database_name": ..., "sql_query": ...}` (flight.rs ReadInfo) —
    * and the response body is the Arrow IPC stream a Flight client would
    * receive as FlightData frames: schema message first, then record
    * batches. Batches stream out as Spark produces partitions (chunked
    * transfer), so a large result never sits fully in facade memory. */
  private def handleDoGet(ex: HttpExchange): Unit = {
    val body = readBody(ex.getRequestBody, gzipped = false) match {
      case Some(b) => new String(b, UTF_8)
      case None => respondJsonError(ex, 413, s"ticket exceeds $MaxBodySize bytes"); return
    }
    parseTicket(body) match {
      case None =>
        respondJsonError(ex, 400, s"invalid ticket: expected " +
          """{"database_name": ..., "sql_query": ...}""")
      case Some((db, sql)) =>
        planSql(db, sql) match {
          case Left((status, err)) => respondJsonError(ex, status, err)
          case Right(df) =>
            ex.getResponseHeaders.set("Content-Type",
              "application/vnd.apache.arrow.stream")
            ex.sendResponseHeaders(200, 0) // chunked: length unknown up front
            val os = ex.getResponseBody
            try ArrowIpc.writeStream(df, os) finally os.close()
        }
    }
  }

  /** Arrow Flight do_put — the write half of the Flight surface, over
    * the same HTTP transport stand-in as do_get: the body is the Arrow
    * IPC stream a Flight client would send as FlightData frames, and
    * `?db=&measurement=` carry what the FlightDescriptor path would.
    * Decoded rows land in the SAME per-measurement store as LP/protobuf
    * writes, with the LP role convention (the ns `time` column is the
    * time axis, string columns are tags, everything else fields). The
    * JSON `{"rows": n}` reply stands in for the PutResult ack. */
  private def handleDoPut(ex: HttpExchange): Unit = {
    val params = queryParams(ex)
    (params.get("db"), params.get("measurement")) match {
      case (Some(db), Some(m)) if db.nonEmpty && m.nonEmpty =>
        try {
          val raw = storageBodyBytes(ex).getOrElse(return)
          val (schema, rows) = ArrowIpc.readStreamTyped(
            new java.io.ByteArrayInputStream(raw))
          val timeField =
            schema.fields.find(_.name == graft.core.NsTime.TimeColumn)
          if (timeField.isEmpty ||
              timeField.get.dataType != org.apache.spark.sql.types.LongType)
            throw new IllegalArgumentException(
              s"do_put needs a '${graft.core.NsTime.TimeColumn}' i64-ns " +
                "column; a mistyped time axis would poison every later " +
                "merge of this measurement")
          val withMeta = org.apache.spark.sql.types.StructType(
            schema.fields.map { f =>
              val cat =
                if (f.name == graft.core.NsTime.TimeColumn) IoxSchema.Time
                else if (f.dataType ==
                  org.apache.spark.sql.types.StringType) IoxSchema.Tag
                else IoxSchema.Field
              IoxSchema.tagged(f.name, f.dataType, cat)
            })
          val df = spark.createDataFrame(
            spark.sparkContext.parallelize(rows, 1), withMeta)
          appendChunks(db, Seq(m -> df))
          ingestLines.addAndGet(rows.size.toLong)
          ingestFields.addAndGet(withMeta.fields.iterator
            .filter(f => IoxSchema.categoryOf(f).contains(IoxSchema.Field))
            .map(f => rows.iterator.count(
              _.get(withMeta.fieldIndex(f.name)) != null).toLong).sum)
          ingestBytes.addAndGet(raw.length.toLong)
          respond(ex, 200, "application/json", s"""{"rows":${rows.size}}""")
        } catch {
          case NonFatal(e) => respondJsonError(ex, 400,
            s"do_put failed: ${Option(e.getMessage).getOrElse(e.getClass.getName)}")
        }
      case _ =>
        respondJsonError(ex, 400, "missing db/measurement query parameters")
    }
  }

  /** The storage RPC surface (service.rs:212-782) with HTTP carrying the
    * tonic payloads: `POST /api/v1/storage/<method>`, the request in
    * either encoding [[isProtoRequest]] accepts, the response body the
    * service's protobuf response message. Both encodings decode into one
    * [[StorageService.Call]], served by the same core as the gRPC
    * service. The reference resolves the database from read_source
    * org/bucket ids (service.rs get_database_name →
    * `{org:016x}_{bucket:016x}`); a `?db=` query param overrides it for
    * string-named databases, and `?table=` names the table when the
    * request does not. Frames stream out one encoded single-frame
    * ReadResponse at a time — proto repeated-field concatenation makes
    * the chunks one valid message, so a large series set never buffers
    * in the facade. */
  private def handleStorage(ex: HttpExchange, method: String): Unit = {
    val raw = storageBodyBytes(ex).getOrElse(return)
    val params = queryParams(ex)
    val call =
      if (isProtoRequest(ex)) StorageService.decodeProto(method, raw)
      else StorageService.decodeJson(method, new String(raw, UTF_8))
    call.flatMap(c => StorageService.run(this, c.copy(
        db = params.get("db").orElse(c.db),
        table = c.table.orElse(params.get("table"))))) match {
      case Left((status, err)) => respondJsonError(ex, status, err)
      case Right(StorageService.Message(bytes)) => respondProto(ex, bytes)
      case Right(frames) =>
        ex.getResponseHeaders.set("Content-Type", "application/x-protobuf")
        ex.sendResponseHeaders(200, 0) // chunked
        val os = ex.getResponseBody
        try frames.messages.foreach(os.write) finally os.close()
    }
  }

  private def storageBody(ex: HttpExchange): Option[String] =
    storageBodyBytes(ex).map(new String(_, UTF_8))

  /** Raw request bytes — protobuf-carried requests are binary and must
    * not round-trip through a UTF-8 decode. */
  private def storageBodyBytes(ex: HttpExchange): Option[Array[Byte]] =
    readBody(ex.getRequestBody, gzipped = false) match {
      case Some(b) => Some(b)
      case None =>
        respondJsonError(ex, 413, s"request exceeds $MaxBodySize bytes"); None
    }

  /** The storage routes accept BOTH encodings: the tonic request protobuf
    * (Content-Type: application/x-protobuf — storage_common.proto
    * messages, predicate Node trees and all) and the JSON spelling the
    * facade always carried. */
  private def isProtoRequest(ex: HttpExchange): Boolean =
    Option(ex.getRequestHeaders.getFirst("Content-Type"))
      .exists(_.toLowerCase.contains("protobuf"))

  /** All measurements of `db` as a name->view map (the database-level
    * operand of the *AcrossTables metadata ops). */
  private[server] def dbTables(db: String): Map[String, DataFrame] =
    measurements(db).flatMap(m => measurementView(db, m).map(m -> _)).toMap

  /** LP ingest core shared by the HTTP write endpoint and the gRPC write
    * service (rpc/write.rs:23-54 funnels into the same
    * `Server::write_lines` the HTTP route uses): one driver-side parse
    * for the per-write counters the reference tracks (num_lines /
    * num_fields, http.rs:494-506), frames appended to the per-db chunk
    * store, parse errors surfaced to the caller's transport. The frames
    * re-parse the same <=10MiB body — still one facade-sized pass, the
    * data path proper stays in Spark. Returns lines written. */
  /** Write entry point: shard-routes when the database's rules carry a
    * ShardConfig with specific (table-regex) targets whose shard ids
    * resolve through the `remotes` registry — the reference's
    * grpc-router role (server/src/lib.rs:716-773 write_sharded_entry →
    * write_entry_downstream → resolve_remote). Lines matching no target
    * write locally, exactly like the reference's `shard_id: None` arm.
    * The downstream hop is the db-addressed `/iox/api/v1/write` route,
    * which writes LOCALLY at the receiver (the reference's write_entry →
    * write_entry_local: a forwarded entry is never re-sharded, so a
    * mis-configured ring cannot loop). Hash-ring targets stay a local
    * write here: ring routing shards ROWS, which this single-process
    * facade does at ingest via Sharding.shardColumn — only table-matcher
    * targets name whole-line destinations. */
  private[server] def writeLines(db: String, body: String,
      bodyBytes: Int): Either[String, Long] = {
    val targets = rulesStore.get(db).flatMap(_.shardConfig)
      .map(_.specificTargets).getOrElse(Nil)
    // no matcher targets -> plain local write. With targets, a matched
    // line's shard MUST resolve through `remotes` (reference Shard::Iox:
    // every explicit shard id names a downstream node group; lib.rs:724
    // ShardNotFound otherwise) — only unmatched lines write locally.
    if (targets.isEmpty) return writeLinesLocal(db, body, bodyBytes)
    try {
      val content = body.split("\n").toSeq.map(_.trim)
        .filter(l => l.nonEmpty && !l.startsWith("#"))
      val routed = content.map { line =>
        val m = LineProtocol.parseLine(line).measurement
        (targets.find(_._1.matches(m)).map(_._2), line)
      }
      val remoteTotals = routed.collect { case (Some(s), l) => (s, l) }
        .groupBy(_._1).toSeq.sortBy(_._1).map { case (shard, ls) =>
          remotes.get(shard) match {
            case None => return Left(s"shard not found: $shard") // lib.rs ShardNotFound
            case Some(addr) =>
              forwardWrite(addr, db, ls.map(_._2).mkString("\n")) match {
                case Left(err) => return Left(err)
                case Right(()) => ls.size.toLong
              }
          }
        }
      val localLines = routed.collect { case (None, l) => l }
      val localCount =
        if (localLines.isEmpty) 0L
        else writeLinesLocal(db, localLines.mkString("\n"),
          localLines.iterator.map(_.length + 1).sum) match {
          case Left(err) => return Left(err)
          case Right(n) => n
        }
      Right(remoteTotals.sum + localCount)
    } catch {
      case e: LineProtocol.LpException => Left(e.getMessage)
    }
  }

  /** One downstream write to a configured remote (connection strings as
    * stored by update_remote; bare host:port gets http://). */
  private def forwardWrite(addr: String, db: String,
      body: String): Either[String, Unit] = {
    val base = if (addr.startsWith("http://") || addr.startsWith("https://"))
      addr.stripSuffix("/") else s"http://${addr.stripSuffix("/")}"
    try {
      val conn = new java.net.URI(
        s"$base/iox/api/v1/write?db=${HttpFacade.urlEnc(db)}")
        .toURL.openConnection().asInstanceOf[java.net.HttpURLConnection]
      conn.setRequestMethod("POST")
      conn.setDoOutput(true)
      conn.setConnectTimeout(5000)
      conn.setReadTimeout(15000)
      conn.getOutputStream.write(body.getBytes(UTF_8))
      conn.getOutputStream.close()
      val status = conn.getResponseCode
      val err = if (status >= 400) {
        val is = conn.getErrorStream
        val detail = if (is == null) "" else new String(is.readAllBytes(), UTF_8)
        Some(s"remote $addr returned $status: ${detail.take(200)}")
      } else None
      conn.disconnect()
      err.toLeft(())
    } catch {
      case e: java.io.IOException =>
        Left(s"no remote reachable at $addr: ${e.getMessage}") // NoRemoteReachable
    }
  }

  private def writeLinesLocal(db: String, body: String,
      bodyBytes: Int): Either[String, Long] = {
    val lines = body.split("\n").toSeq
    try {
      val parsed = LineProtocol.parseLines(lines.iterator).toSeq
      val frames = LineProtocol.ingest(spark, lines, clockNs())
      appendChunks(db, frames.toVector)
      ingestLines.addAndGet(parsed.size.toLong)
      ingestFields.addAndGet(parsed.iterator.map(_.fields.size.toLong).sum)
      ingestBytes.addAndGet(bodyBytes.toLong)
      Right(parsed.size.toLong)
    } catch {
      case e: LineProtocol.LpException => Left(e.getMessage)
    }
  }

  /** 404 for an unknown database on the partition routes — without
    * this, they would answer "exists and is empty" for a typo'd name.
    * Returns false after responding. */
  private def requireDb(ex: HttpExchange, db: String): Boolean =
    databases.contains(db) || {
      respondJsonError(ex, 404, s"database not found: $db"); false
    }

  private def respondProto(ex: HttpExchange, bytes: Array[Byte]): Unit = {
    ex.getResponseHeaders.set("Content-Type", "application/x-protobuf")
    ex.sendResponseHeaders(200, bytes.length.toLong)
    val os = ex.getResponseBody
    os.write(bytes); os.close()
  }

  // ------------------------------------------------- management surface
  // (the reference's management API: CreateDatabase / GetDatabase /
  // ListDatabases with DatabaseRules payloads — gRPC there,
  // management.proto; HTTP-carried JSON here like the other stand-ins)

  /** db_names_sorted (management.rs:85-91): every database that was
    * written to or configured. */
  private[server] def databaseNames: Seq[String] =
    (databases.keySet ++ rulesStore.keySet).toSeq.sorted

  private[server] def hasDatabase(db: String): Boolean =
    databases.contains(db) || rulesStore.contains(db)

  /** db_rules (management.rs:93-112): stored rules, or the defaults in
    * effect for a written-to-but-never-configured database; None when
    * the database is unknown. */
  private[server] def storedRules(db: String): Option[graft.streaming.DatabaseRules] =
    rulesStore.get(db)
      .orElse(if (databases.contains(db)) Some(rulesOf(db)) else None)

  /** create_database (management.rs:114-137): AlreadyExists is an error
    * — unlike [[updateRules]]' upsert. */
  private[server] def createDatabase(
      r: graft.streaming.DatabaseRules): Either[String, Unit] =
    if (hasDatabase(r.name)) Left(s"database already exists: ${r.name}")
    else { rulesStore.put(r.name, r); persistRules(r); Right(()) }

  /** update_database (management.rs:139-155): replace the stored rules;
    * NotFound when the database was never created or written to. */
  private[server] def updateRules(
      r: graft.streaming.DatabaseRules): Either[String, graft.streaming.DatabaseRules] =
    if (!hasDatabase(r.name)) Left(s"database not found: ${r.name}")
    else { rulesStore.put(r.name, r); persistRules(r); Right(r) }

  // server-plane state (management.rs:55-84,198-241,398-405)

  private[server] def serverId: Option[Int] =
    Option(serverIdRef.get()).filter(_ != 0)

  /** set_id (server: settable once; SetIdError on a conflicting re-set,
    * idempotent on the same value). */
  private[server] def setServerId(id: Int): Either[String, Unit] =
    if (id == 0) Left("id must be non-zero")
    else if (serverIdRef.compareAndSet(0, id) || serverIdRef.get() == id) {
      persistServerId()
      Right(())
    } else Left(s"id already set to ${serverIdRef.get()}")

  private[server] def remotesSorted: Seq[(Int, String)] =
    remotes.toSeq.sortBy(_._1)

  private[graft] def updateRemote(id: Int, connectionString: String): Unit =
    remotes.put(id, connectionString)

  /** delete_remote: false when the id was unknown (NotFound upstream). */
  private[server] def deleteRemote(id: Int): Boolean =
    remotes.remove(id).isDefined

  private[graft] def servingReadiness: Boolean = servingReady.get()
  private[server] def setServingReadiness(ready: Boolean): Unit =
    servingReady.set(ready)

  private def handleListDatabases(ex: HttpExchange): Unit =
    respond(ex, 200, "application/json",
      databaseNames.map(jsonStr).mkString("""{"names":[""", ",", "]}"))

  private def handleGetRules(ex: HttpExchange, db: String): Unit =
    storedRules(db) match {
      case Some(r) => respond(ex, 200, "application/json",
        graft.streaming.DatabaseRules.toJson(r))
      case None => respondJsonError(ex, 404, s"database not found: $db")
    }

  private def handlePutRules(ex: HttpExchange, db: String): Unit = {
    val body = storageBody(ex).getOrElse(return)
    graft.streaming.DatabaseRules.fromJson(body) match {
      case Left(err) => respondJsonError(ex, 400, err)
      case Right(r) if r.name != db =>
        respondJsonError(ex, 400,
          s"rules name '${r.name}' does not match path database '$db'")
      case Right(r) =>
        rulesStore.put(db, r)
        persistRules(r)
        respond(ex, 200, "application/json",
          graft.streaming.DatabaseRules.toJson(r))
    }
  }

  /** Management ListChunks (management/v1/service.proto:30,
    * chunk.proto:44-76): one entry per (partition_key, table, write
    * chunk) — the facade's hot write batches split by the configured
    * partition template, exactly the reference's per-partition open
    * chunks. Storage starts at OpenMutableBuffer and moves through the
    * management actions (new_partition_chunk → ClosedMutableBuffer,
    * close_partition_chunk → ReadBuffer); the compacted/persisted disk
    * stages live on the ChunkedTable path and surface through
    * `system_chunks`. */
  /** list_chunks data (management.rs:157-186): one [[HttpFacade.ChunkRow]]
    * per (partition_key, table, write chunk), sorted. */
  private[server] def chunkRows(db: String): Seq[HttpFacade.ChunkRow] = {
    val template = rulesOf(db).partitionTemplate
    databases.getOrElse(db, Vector.empty).zipWithIndex.flatMap {
      case ((m, df), i) =>
        df.groupBy(template.keyColumn(m, df.schema).as("k"))
          .agg(count(lit(1)).as("n")).collect()
          .map(r => HttpFacade.ChunkRow(r.getString(0), m, i,
            chunkStage(db, i), r.getLong(1)))
    }.sortBy(c => (c.partitionKey, c.table, c.id))
  }

  private def chunkRowJson(c: HttpFacade.ChunkRow): String =
    s"""{"partition_key":${jsonStr(c.partitionKey)},""" +
      s""""table_name":${jsonStr(c.table)},""" +
      s""""id":${c.id},"storage":"${c.storage}","row_count":${c.rowCount}}"""

  private def handleListChunks(ex: HttpExchange): Unit = {
    val params = queryParams(ex)
    (params.get("org"), params.get("bucket")) match {
      case (Some(org), Some(bucket)) =>
        val db = dbName(org, bucket)
        if (!databases.contains(db)) {
          respondJsonError(ex, 404, s"database not found: $db"); return
        }
        respond(ex, 200, "application/json",
          chunkRows(db).map(chunkRowJson).mkString("[", ",", "]"))
      case _ => respondJsonError(ex, 400, "org and bucket params required")
    }
  }

  // -------------------------------- management partitions / chunk actions

  /** True when chunk frame `df` of `table` holds any row of partition
    * `key` under the db's configured template — the membership test every
    * partition-scoped action uses. The filter is a scan-level predicate
    * over the (bounded, facade-sized) chunk frame. */
  private def inPartition(db: String, table: String, df: DataFrame,
      key: String): Boolean = {
    val template = rulesOf(db).partitionTemplate
    df.filter(template.keyColumn(table, df.schema) === key)
      .limit(1).count() > 0L
  }

  /** list_partitions data (management.rs:243): the database's distinct
    * partition keys, sorted. */
  private[server] def partitionKeysOf(db: String): Seq[String] = {
    val template = rulesOf(db).partitionTemplate
    databases.getOrElse(db, Vector.empty).flatMap { case (m, df) =>
      df.select(template.keyColumn(m, df.schema).as("k"))
        .distinct().collect().map(_.getString(0))
    }.distinct.sorted
  }

  /** get_partition membership (management.rs:265). */
  private[server] def partitionExists(db: String, key: String): Boolean =
    databases.getOrElse(db, Vector.empty).exists { case (m, df) =>
      inPartition(db, m, df, key)
    }

  private def handleDbPartitions(ex: HttpExchange, db: String): Unit = {
    if (!requireDb(ex, db)) return
    respond(ex, 200, "application/json",
      partitionKeysOf(db).map(k => s"""{"key":${jsonStr(k)}}""")
        .mkString("[", ",", "]"))
  }

  /** get_partition (management.rs:265): the partition by key, 404 when
    * the database holds no row under it. */
  private def handleGetPartition(ex: HttpExchange, db: String,
      key: String): Unit = {
    if (!requireDb(ex, db)) return
    if (partitionExists(db, key))
      respond(ex, 200, "application/json", s"""{"key":${jsonStr(key)}}""")
    else respondJsonError(ex, 404, s"partition not found: $key")
  }

  /** list_partition_chunks data (management.rs:293): the chunks holding
    * rows of one partition, with their current lifecycle storage stage. */
  private[server] def partitionChunkRows(db: String,
      key: String): Seq[HttpFacade.ChunkRow] = {
    val template = rulesOf(db).partitionTemplate
    databases.getOrElse(db, Vector.empty).zipWithIndex.flatMap {
      case ((m, df), i) =>
        val n = df.filter(template.keyColumn(m, df.schema) === key).count()
        if (n == 0L) None
        else Some(HttpFacade.ChunkRow(key, m, i, chunkStage(db, i), n))
    }.sortBy(c => (c.table, c.id))
  }

  private def handlePartitionChunks(ex: HttpExchange, db: String,
      key: String): Unit = {
    if (!requireDb(ex, db)) return
    respond(ex, 200, "application/json",
      partitionChunkRows(db, key).map(chunkRowJson).mkString("[", ",", "]"))
  }

  /** new_partition_chunk (management.rs:318 → rollover_partition): close
    * the partition's open chunks so the next write starts a fresh one —
    * OpenMutableBuffer → ClosedMutableBuffer, the first edge of the
    * reference's chunk state machine. Rolling over a partition whose
    * open chunk is already closed is a no-op, like the reference's
    * rollover of an empty open chunk. */
  /** new_partition_chunk core (management.rs:318 → rollover_partition):
    * false when the (partition, table) holds no rows. */
  private[server] def rolloverPartition(db: String, key: String,
      table: String): Boolean = {
    val members = databases.getOrElse(db, Vector.empty).zipWithIndex
      .filter { case ((m, df), _) => m == table && inPartition(db, m, df, key) }
      .map(_._2)
    if (members.isEmpty) false
    else {
      members.filter(chunkStage(db, _) == "OpenMutableBuffer")
        .foreach(i => chunkStages((db, i)) = "ClosedMutableBuffer")
      true
    }
  }

  private def handleNewPartitionChunk(ex: HttpExchange, db: String,
      key: String, table: String): Unit = {
    if (!requireDb(ex, db)) return
    if (rolloverPartition(db, key, table))
      respond(ex, 200, "application/json", "{}")
    else respondJsonError(ex, 404, s"partition not found: $key (table $table)")
  }

  /** close_partition_chunk (management.rs:342 → Server::close_chunk):
    * move one chunk to the read buffer and return the tracked operation,
    * with the reference's CloseChunk job shape (job.rs:91 description
    * "Loading chunk to ReadBuffer"). Closing an already-moved chunk is
    * the reference's lifecycle error. */
  /** close_partition_chunk core (management.rs:342 → Server::close_chunk):
    * move one chunk to the read buffer and return the tracked operation
    * record, with the reference's CloseChunk job shape (job.rs:91
    * description "Loading chunk to ReadBuffer"). Closing an
    * already-moved chunk is the reference's lifecycle error. Left is
    * (http-ish status, message): 404 not-found, 400 lifecycle. */
  /** Shared (table, partition, id) validation of the chunk-scoped
    * management actions; Left is (404, message). */
  private def validateChunkRef(db: String, key: String, table: String,
      chunkId: Int): Either[(Int, String), Unit] = {
    val chunks = databases.getOrElse(db, Vector.empty)
    if (chunkId < 0 || chunkId >= chunks.size || chunks(chunkId)._1 != table)
      Left((404, s"chunk $chunkId not found for table $table"))
    else if (!inPartition(db, table, chunks(chunkId)._2, key))
      Left((404, s"chunk $chunkId holds no rows of partition $key"))
    else Right(())
  }

  private[server] def closeChunkAction(db: String, key: String,
      table: String, chunkId: Int): Either[(Int, String), HttpFacade.OpRecord] =
    validateChunkRef(db, key, table, chunkId).flatMap { _ =>
      if (chunkStage(db, chunkId) == "ReadBuffer")
        Left((400, s"chunk $chunkId already moved to ReadBuffer"))
      else {
        chunkStages((db, chunkId)) = "ReadBuffer"
        Right(trackOperation(HttpFacade.OpRecord(0, "CloseChunk",
          "Loading chunk to ReadBuffer", dbName = db, partitionKey = key,
          tableName = table, chunkId = Some(chunkId))))
      }
    }

  /** unload_partition_chunk (management.rs:366-396 → unload_read_buffer):
    * drop the read-buffer stage label, keeping the chunk queryable —
    * ReadBuffer → ObjectStoreOnly, the facade's two-stage analog of the
    * reference's ReadBufferAndObjectStore → ObjectStoreOnly edge.
    * Unloading a chunk that is not in the read buffer is the
    * reference's lifecycle error. */
  private[server] def unloadChunkAction(db: String, key: String,
      table: String, chunkId: Int): Either[(Int, String), Unit] =
    validateChunkRef(db, key, table, chunkId).flatMap { _ =>
      if (chunkStage(db, chunkId) != "ReadBuffer")
        Left((400, s"chunk $chunkId is not in the read buffer"))
      else {
        chunkStages((db, chunkId)) = "ObjectStoreOnly"
        Right(())
      }
    }

  private def trackOperation(r: HttpFacade.OpRecord): HttpFacade.OpRecord = {
    val id = nextOpId.getAndIncrement()
    val rec = r.copy(id = id)
    operations(id) = rec
    rec
  }

  /** create_dummy_job (management.rs:188-196): tracked job carrying the
    * request's nanos; the facade's jobs are synchronous, so it records
    * Complete immediately. */
  private[server] def createDummyJob(nanos: Seq[Long]): HttpFacade.OpRecord =
    trackOperation(HttpFacade.OpRecord(0, "Dummy", "dummy job", nanos = nanos))

  /** wipe_preserved_catalog (management.rs:447-471): only legal for a
    * database the server does NOT actively hold — wiping an active
    * database is the reference's AlreadyExists error. The facade's
    * preserved-catalog analog is the chunk-stage sidecar, which is
    * cleared for the name. */
  private[server] def wipePreservedCatalog(
      db: String): Either[String, HttpFacade.OpRecord] =
    if (hasDatabase(db)) Left(s"database already exists: $db")
    else {
      chunkStages.keys.filter(_._1 == db).foreach(chunkStages.remove)
      Right(trackOperation(HttpFacade.OpRecord(0, "WipePreservedCatalog",
        "Wiping preserved catalog", dbName = db)))
    }

  private[server] def operationsList: Seq[HttpFacade.OpRecord] =
    operations.toSeq.sortBy(_._1).map(_._2)

  private[server] def operationGet(id: Long): Option[HttpFacade.OpRecord] =
    operations.get(id)

  /** cancel_operation (rpc/operations.rs:171-181): cancelling a finished
    * job is a no-op on the tracker; the record keeps the cancelled mark
    * like the reference's `is_cancelled`. False when the id is unknown. */
  private[server] def cancelOperation(id: Long): Boolean =
    operations.updateWith(id)(_.map(_.copy(cancelled = true))).isDefined

  private def handleClosePartitionChunk(ex: HttpExchange, db: String,
      key: String, table: String, chunkId: Int): Unit = {
    if (!requireDb(ex, db)) return
    closeChunkAction(db, key, table, chunkId) match {
      case Left((status, msg)) => respondJsonError(ex, status, msg)
      case Right(rec) => respond(ex, 200, "application/json",
        s"""{"operation":${HttpFacade.opJson(rec)}}""")
    }
  }

  /** Operations listing (rpc/operations.rs): every tracked management
    * job, oldest first; per-id fetch below. */
  private def handleListOperations(ex: HttpExchange): Unit =
    respond(ex, 200, "application/json",
      operationsList.map(HttpFacade.opJson).mkString("[", ",", "]"))

  private def handleGetOperation(ex: HttpExchange, id: Long): Unit =
    operationGet(id) match {
      case Some(op) => respond(ex, 200, "application/json",
        HttpFacade.opJson(op))
      case None => respondJsonError(ex, 404, s"operation $id not found")
    }

  private def handlePartitions(ex: HttpExchange): Unit = {
    val params = queryParams(ex)
    (params.get("org"), params.get("bucket")) match {
      case (Some(org), Some(bucket)) =>
        val db = dbName(org, bucket)
        if (!databases.contains(db)) {
          respondJsonError(ex, 404, s"database not found: $db"); return
        }
        // the database's CONFIGURED template (management surface), with
        // the reference default when none was set
        val template = rulesOf(db).partitionTemplate
        val keys = measurements(db).flatMap { m =>
          measurementView(db, m).toSeq.flatMap { df =>
            df.select(template.keyColumn(m, df.schema).as("k"))
              .distinct().collect().map(r => (m, r.getString(0)))
          }
        }.sorted
        val body = keys.map { case (m, k) =>
          s"""{"table":${jsonStr(m)},"partition_key":${jsonStr(k)}}"""
        }.mkString("[", ",", "]")
        respond(ex, 200, "application/json", body)
      case _ => respondJsonError(ex, 400, "missing org/bucket query parameters")
    }
  }

  private def handleMetrics(ex: HttpExchange): Unit = {
    val body =
      s"""ingest_lines_total ${ingestLines.get}
         |ingest_fields_total ${ingestFields.get}
         |ingest_points_bytes_total ${ingestBytes.get}
         |http_requests_total ${httpRequests.get}
         |""".stripMargin
    respond(ex, 200, "text/plain", body)
  }

  // ---------------------------------------------------------------- helpers

  private def queryParams(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getRawQuery).map(parseQuery).getOrElse(Map.empty)

  private def respond(ex: HttpExchange, status: Int, ctype: String, body: String): Unit = {
    val bytes = body.getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type", ctype)
    ex.sendResponseHeaders(status, bytes.length.toLong)
    val os = ex.getResponseBody
    os.write(bytes); os.close()
  }

  private def respondJsonError(ex: HttpExchange, status: Int, msg: String): Unit =
    respond(ex, status, "application/json", s"""{"error":${jsonStr(msg)}}""")
}

object HttpFacade {

  /** Max accepted body, pre- and post-inflate (http.rs:345 MAX_SIZE). */
  val MaxBodySize: Int = 10 * 1024 * 1024

  /** Measurement temp views currently registered in the shared session
    * catalog (guarded by `HttpFacade.synchronized`, like the
    * registration sites). Planning for one database FIRST drops the
    * previous request's views: without this, a measurement that exists
    * only in db A kept resolving in db B's queries and silently served
    * A's rows instead of a table-not-found error. Only views this
    * registry created are dropped — externally registered views (e.g.
    * SqlFrontend system tables) are untouched. Plans are analyzed
    * eagerly under the lock, so dropping a view later never unbinds an
    * in-flight stream. */
  private val registeredViews = scala.collection.mutable.Set.empty[String]

  private[server] def registerMeasurementViews(
      spark: org.apache.spark.sql.SparkSession,
      views: Seq[(String, org.apache.spark.sql.DataFrame)]): Unit = {
    registeredViews.foreach(v => spark.catalog.dropTempView(v))
    registeredViews.clear()
    views.foreach { case (m, df) =>
      df.createOrReplaceTempView(m)
      registeredViews += m
    }
  }

  /** One management-surface chunk row (chunk.proto:46-81 Chunk):
    * partition key, table, id, lifecycle storage stage, row count —
    * rendered as JSON by the HTTP routes and protobuf by gRPC. */
  final case class ChunkRow(partitionKey: String, table: String, id: Int,
      storage: String, rowCount: Long)

  /** One tracked long-running operation (rpc/operations.rs
    * encode_tracker + jobs.proto OperationMetadata): the facade's
    * management jobs are synchronous, so every record is terminal —
    * either Complete or (after cancel_operation) carrying the cancelled
    * mark, mirroring the tracker's `is_cancelled`. */
  final case class OpRecord(id: Long, kind: String, description: String,
      dbName: String = "", partitionKey: String = "", tableName: String = "",
      chunkId: Option[Int] = None, nanos: Seq[Long] = Nil,
      cancelled: Boolean = false)

  /** The HTTP rendering of an operation record — the shape the
    * /iox/api/v1/operations routes have always served. */
  private[server] def opJson(r: OpRecord): String = {
    val job = r.kind match {
      case "CloseChunk" =>
        s""""job":{"kind":"CloseChunk","db_name":${jsonStr(r.dbName)},""" +
          s""""partition_key":${jsonStr(r.partitionKey)},""" +
          s""""table_name":${jsonStr(r.tableName)},""" +
          s""""chunk_id":${r.chunkId.getOrElse(0)}}"""
      case "WipePreservedCatalog" =>
        s""""job":{"kind":"WipePreservedCatalog","db_name":${jsonStr(r.dbName)}}"""
      case _ =>
        s""""job":{"kind":"Dummy","nanos":${r.nanos.mkString("[", ",", "]")}}"""
    }
    val status = if (r.cancelled) "Cancelled" else "Complete"
    s"""{"id":${r.id},"status":"$status",""" +
      s""""description":${jsonStr(r.description)},$job}"""
  }

  // ------------------------------------------- minimal client (tests/demos)

  /** POST line protocol to a facade; returns the HTTP status. */
  def postWrite(port: Int, org: String, bucket: String, lpBody: String): Int = {
    val conn = new java.net.URI(
      s"http://127.0.0.1:$port/api/v2/write?org=${urlEnc(org)}&bucket=${urlEnc(bucket)}")
      .toURL.openConnection().asInstanceOf[java.net.HttpURLConnection]
    conn.setRequestMethod("POST")
    conn.setDoOutput(true)
    conn.getOutputStream.write(lpBody.getBytes(UTF_8))
    conn.getOutputStream.close()
    val status = conn.getResponseCode
    conn.disconnect()
    status
  }

  /** POST a protobuf WriteRequest to the write_pb route; returns the
    * HTTP status. */
  def postWritePb(port: Int, body: Array[Byte]): Int = {
    val conn = new java.net.URI(s"http://127.0.0.1:$port/api/v1/write_pb")
      .toURL.openConnection().asInstanceOf[java.net.HttpURLConnection]
    conn.setRequestMethod("POST")
    conn.setDoOutput(true)
    conn.setRequestProperty("Content-Type", "application/x-protobuf")
    conn.getOutputStream.write(body)
    conn.getOutputStream.close()
    val status = conn.getResponseCode
    conn.disconnect()
    status
  }

  /** GET the SQL query endpoint; returns (status, body). */
  def getQuery(port: Int, db: String, sql: String, format: String = "csv")
      : (Int, String) = {
    val conn = new java.net.URI(
      s"http://127.0.0.1:$port/iox/api/v1/databases/${urlEnc(db)}/query" +
        s"?q=${urlEnc(sql)}&format=$format")
      .toURL.openConnection().asInstanceOf[java.net.HttpURLConnection]
    val status = conn.getResponseCode
    val is = if (status >= 400) conn.getErrorStream else conn.getInputStream
    val body = if (is == null) "" else new String(is.readAllBytes(), UTF_8)
    (status, body)
  }

  /** POST a Flight ticket to do_get; returns (column names, rows) decoded
    * from the Arrow IPC response, or throws on a non-200 with the error
    * body in the message. */
  def doGet(port: Int, db: String, sql: String): (Seq[String], Seq[Seq[Any]]) = {
    val conn = new java.net.URI(s"http://127.0.0.1:$port/api/v2/flight/do_get")
      .toURL.openConnection().asInstanceOf[java.net.HttpURLConnection]
    conn.setRequestMethod("POST")
    conn.setDoOutput(true)
    conn.getOutputStream.write(
      s"""{"database_name":${jsonStr(db)},"sql_query":${jsonStr(sql)}}""".getBytes(UTF_8))
    conn.getOutputStream.close()
    val status = conn.getResponseCode
    if (status >= 400) {
      val err = Option(conn.getErrorStream)
        .map(is => new String(is.readAllBytes(), UTF_8)).getOrElse("")
      conn.disconnect()
      throw new RuntimeException(s"do_get failed ($status): $err")
    }
    val result = ArrowIpc.readStream(conn.getInputStream)
    conn.disconnect()
    result
  }

  /** Parse the Flight ticket JSON (flight.rs ReadInfo: database_name +
    * sql_query, both strings). Deliberately minimal: exactly the two
    * string members, any order, standard JSON escapes. */
  private[server] def parseTicket(json: String): Option[(String, String)] =
    for (db <- jsonStrField(json, "database_name");
         q <- jsonStrField(json, "sql_query")) yield (db, q)

  // JSON field extraction delegates to the shared quote-aware
  // implementation (graft.core.Json) — one parser for the facade and
  // the rules codec.
  private[server] def jsonStrField(json: String, key: String): Option[String] =
    graft.core.Json.strField(json, key)

  private[server] def jsonLongField(json: String, key: String): Option[Long] =
    graft.core.Json.longField(json, key)

  /** `"key": {"a": "x"}` -> Map; quote-aware (values may contain '}'). */
  private[graft] def jsonStrMapField(json: String, key: String): Map[String, String] =
    graft.core.Json.strMapField(json, key)

  /** `"key": ["a", "b"]` -> Seq; quote-aware (elements may contain ']'). */
  private[graft] def jsonStrArrayField(json: String, key: String): Seq[String] =
    graft.core.Json.strArrayField(json, key)

  private[server] def urlEnc(s: String): String =
    java.net.URLEncoder.encode(s, "UTF-8")

  private val QueryPath = "/iox/api/v1/databases/([^/]+)/query".r
  private val RulesPath = "/iox/api/v1/databases/([^/]+)/rules".r
  private val DbPartitionsPath =
    "/iox/api/v1/databases/([^/]+)/partitions".r
  private val PartitionPath =
    "/iox/api/v1/databases/([^/]+)/partitions/([^/]+)".r
  private val PartitionChunksPath =
    "/iox/api/v1/databases/([^/]+)/partitions/([^/]+)/chunks".r
  private val NewChunkPath =
    "/iox/api/v1/databases/([^/]+)/partitions/([^/]+)/tables/([^/]+)/chunks/new".r
  private val CloseChunkPath =
    "/iox/api/v1/databases/([^/]+)/partitions/([^/]+)/tables/([^/]+)/chunks/([0-9]+)/close".r
  private val OperationPath = "/iox/api/v1/operations/([0-9]+)".r

  /** org + bucket -> database name (data_types/src/names.rs:18): both
    * halves percent-encode every non-alphanumeric byte, joined by `_`. */
  def dbName(org: String, bucket: String): String =
    s"${percentEncode(org)}_${percentEncode(bucket)}"

  private def percentEncode(s: String): String =
    s.getBytes(UTF_8).flatMap { b =>
      val c = b.toChar
      if (c.isLetterOrDigit && b >= 0) c.toString
      else f"%%${b & 0xff}%02X"
    }.mkString

  private[server] def parseQuery(raw: String): Map[String, String] =
    raw.split("&").iterator.filter(_.nonEmpty).map { kv =>
      kv.split("=", 2) match {
        case Array(k, v) => URLDecoder.decode(k, "UTF-8") -> URLDecoder.decode(v, "UTF-8")
        case Array(k) => URLDecoder.decode(k, "UTF-8") -> ""
      }
    }.toMap

  /** Read at most MaxBodySize bytes; None if the (possibly inflated)
    * payload exceeds it — the reference's decompression-bomb guard
    * (http.rs:448-452 `decoder.take(MAX_SIZE)`). */
  private[server] def readBody(in: InputStream, gzipped: Boolean): Option[Array[Byte]] = {
    val src = if (gzipped) new GZIPInputStream(in) else in
    val out = new ByteArrayOutputStream()
    val buf = new Array[Byte](64 * 1024)
    var n = src.read(buf)
    while (n >= 0) {
      if (out.size + n > MaxBodySize) return None
      out.write(buf, 0, n)
      n = src.read(buf)
    }
    Some(out.toByteArray)
  }

  def contentType(format: String): String = format match {
    case "csv" => "text/csv"
    case "json" => "application/json"
    case _ => "text/plain"
  }

  /** Stream a result to `os` the way influxdb_iox_client/src/format.rs
    * shapes it (csv = header + escaped rows, json = array of row objects)
    * WITHOUT collecting: `toLocalIterator` pulls one partition at a time
    * to the driver, rows flow straight through a buffered writer, so
    * memory is bounded by one partition regardless of result size. Pretty
    * falls back to the eager render (global column widths need all rows —
    * it is the human/debug format). */
  def writeResult(df: DataFrame, format: String, os: java.io.OutputStream): Unit = {
    import scala.jdk.CollectionConverters._
    val cols = df.columns.toSeq
    val w = new java.io.BufferedWriter(
      new java.io.OutputStreamWriter(os, UTF_8), 64 * 1024)
    format match {
      case "csv" =>
        w.write(cols.map(csvCell).mkString(","))
        w.write("\n")
        df.toLocalIterator().asScala.foreach { r =>
          w.write(cols.indices.map(i => csvCell(cellString(r.get(i)))).mkString(","))
          w.write("\n")
        }
      case "json" =>
        w.write("[")
        var first = true
        df.toLocalIterator().asScala.foreach { r =>
          if (first) first = false else w.write(",")
          w.write(cols.indices.map { i =>
            s"${jsonStr(cols(i))}:${jsonVal(r.get(i))}"
          }.mkString("{", ",", "}"))
        }
        w.write("]")
      case other => throw new IllegalArgumentException(s"unknown format: $other")
    }
    w.flush()
  }

  /** Pretty output cap: global column widths need the rendered rows in
    * memory, so the interactive/debug format renders at most this many —
    * the reference's formatters cap pretty output the same way — and a
    * banner points at the streaming csv/json formats for full results.
    * This keeps the LAST driver-side materialization on a user-reachable
    * path row-bounded. */
  val PrettyMaxRows: Int = 1000

  /** Fully-rendered result string. csv/json delegate to the streaming
    * writer (one code path); pretty is the only eager format, and it is
    * capped at [[PrettyMaxRows]] rows. */
  def renderResult(df: DataFrame, format: String): String = format match {
    case "pretty" =>
      val cols = df.columns.toSeq
      val fetched = df.limit(PrettyMaxRows + 1).collect().toSeq
      val truncated = fetched.size > PrettyMaxRows
      val rows = fetched.take(PrettyMaxRows)
      val cells = rows.map(r => cols.indices.map(i => cellString(r.get(i))))
      val widths = cols.indices.map { i =>
        (cols(i).length +: cells.map(_(i).length)).max
      }
      val sep = widths.map("-" * _).mkString("+-", "-+-", "-+")
      val header = cols.indices.map(i => cols(i).padTo(widths(i), ' '))
        .mkString("| ", " | ", " |")
      val body = cells.map(row =>
        cols.indices.map(i => row(i).padTo(widths(i), ' '))
          .mkString("| ", " | ", " |"))
      val table = (Seq(sep, header, sep) ++ body :+ sep).mkString("\n")
      if (truncated)
        table + s"\n-- pretty output capped at $PrettyMaxRows rows; " +
          "use format=csv or format=json for the full result"
      else table
    case "csv" | "json" =>
      val bos = new ByteArrayOutputStream()
      writeResult(df, format, bos)
      new String(bos.toByteArray, UTF_8)
    case other => throw new IllegalArgumentException(s"unknown format: $other")
  }

  private def cellString(v: Any): String = v match {
    case null => ""
    case other => other.toString
  }

  private def csvCell(s: String): String =
    if (s.exists(c => c == ',' || c == '"' || c == '\n'))
      "\"" + s.replace("\"", "\"\"") + "\""
    else s

  private def jsonStr(s: String): String = graft.core.Json.str(s)

  private def jsonVal(v: Any): String = v match {
    case null => "null"
    case b: Boolean => b.toString
    case n: Byte => n.toString
    case n: Short => n.toString
    case n: Int => n.toString
    case n: Long => n.toString
    // bare NaN/Infinity tokens are not JSON; 1.x marshals them as null
    case n: Float if n.isNaN || n.isInfinite => "null"
    case n: Float => n.toString
    case n: Double if n.isNaN || n.isInfinite => "null"
    case n: Double => n.toString
    case n: java.math.BigDecimal => n.toPlainString
    case s => jsonStr(s.toString)
  }
}
