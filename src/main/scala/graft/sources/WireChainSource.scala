package graft.sources

import java.net.{HttpURLConnection, URL}
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.arrow.memory.RootAllocator
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.types.StructType

import graft.sources.WireProtocol.WireQuery

/** Remote chain-provider CLIENT: serves the shared scan ([[ChainScan]])
  * over HTTP via [[WireProtocol]] — the Spark-native analog of the
  * reference's live provider ingestion (cherry configures a remote provider
  * with `ProviderConfig(kind, url)` and pulls filtered/projected pages from
  * it: `examples/erc20_custom.py:93-137`; provider matrix `README.md:29-34`).
  *
  * Wire contract per page:
  *   - POST `url` with a `WireQuery` JSON body (block range, OR'd request
  *     list, field selection — the pushed-down scan state, so filtering and
  *     projection happen SERVER-side, the part that matters when the
  *     provider holds 100 TB and the query wants 0.1%);
  *   - response body: one Arrow IPC stream (the page);
  *   - response headers: `x-graft-next-block` (pagination cursor — the
  *     client re-queries from there until it reaches its target; the SERVER
  *     chooses page size, so client memory is one page regardless of range)
  *     and `x-graft-height` (provider archive height, ≙ the reference's
  *     height endpoint that paces streaming against the chain head).
  *   - GET `url`/height: current archive height as text — the chain head.
  *     An absent `toBlock` scans up to it (one GET at planning; none when
  *     `toBlock` is given) and a micro-batch stream never passes it.
  *
  * Scale shape: the block range splits into `numPartitions` independent
  * slices, each an InputPartition running its OWN pagination loop against
  * the provider — scan parallelism is cluster-sized, per-task memory is
  * page-sized. Match-all is the explicit `Seq(ChainReq(Map.empty))`
  * (`"requests":[{}]` on the wire) — see WireProtocol's request-list
  * semantics. Transient failures are retried `maxAttempts` times with
  * exponential backoff from `retryBackoffMs`.
  *
  * Usage:
  *   spark.read.format("graft.sources.WireChainSource")
  *     .option("url", "http://provider:8080")
  *     .option("table", "logs")              // or "instructions"
  *     .option("fromBlock", 0).option("toBlock", 10000) // toBlock default = provider height
  *     .load()
  */
class WireChainSource extends ChainProvider("chainwire", streams = true) {
  private[sources] def backend(table: String, opts: Map[String, String]): ChainBackend = {
    val url = opts.getOrElse("url",
      throw new IllegalArgumentException("graftchainwire requires option 'url'"))
    val numPartitions = ChainScan.numPartitions(opts)
    // transient-failure policy (idempotent re-POST, exponential backoff)
    val maxAttempts = opts.getOrElse("maxattempts", "3").toInt
    val retryBackoffMs = opts.getOrElse("retrybackoffms", "100").toLong
    new ChainBackend {
      val defaultRange = (0L, None)
      override def head(): Long =
        WireHttp.retry(maxAttempts, retryBackoffMs)(WireHttp.height(url))
      def plan(from: Long, to: Long, requests: Seq[ChainReq],
               cols: Array[String]): ChainPlan =
        ChainPlan(ChainScan.slice(from, to, numPartitions)(
          WireChainPartition(url, table, _, _, requests, cols, maxAttempts,
            retryBackoffMs)))
      val readerFactory: PartitionReaderFactory =
        (partition: InputPartition) =>
          new WireChainReader(partition.asInstanceOf[WireChainPartition])
    }
  }
}

/** Minimal JDK-only HTTP plumbing for the wire protocol (client side). */
private[sources] object WireHttp {
  final case class Page(body: Array[Byte], nextBlock: Long, height: Long)

  /** Bounded exponential-backoff retry for transient provider failures
    * (connection resets, 5xx under load). Safe here because wire queries
    * are idempotent reads: re-POSTing the same query returns the same
    * page. A 1000-task scan WILL see transient failures from a real
    * provider; without this, one blip kills the whole stage.
    */
  /** 4xx: the QUERY is wrong — retrying it is pure waste, fail fast. */
  final class WireClientException(msg: String) extends java.io.IOException(msg)

  def retry[A](attempts: Int, backoffMs: Long)(f: => A): A = {
    var i = 0
    while (true) {
      try return f
      catch {
        case e: WireClientException => throw e
        case e: java.io.IOException =>
          i += 1
          if (i >= attempts) throw e
          Thread.sleep(backoffMs * (1L << math.min(i - 1, 6)))
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private def withConn[A](url: String)(f: HttpURLConnection => A): A = {
    val conn = new URL(url).openConnection().asInstanceOf[HttpURLConnection]
    conn.setConnectTimeout(30000)
    conn.setReadTimeout(120000)
    try f(conn) finally conn.disconnect()
  }

  private def fail(conn: HttpURLConnection, code: Int): Nothing = {
    val err = Option(conn.getErrorStream)
      .map(s => new String(s.readAllBytes(), UTF_8)).getOrElse("")
    val msg = s"provider returned HTTP $code: $err"
    if (code >= 400 && code < 500) throw new WireClientException(msg)
    throw new java.io.IOException(msg)
  }

  /** POST one query, get one page. */
  def query(url: String, json: String): Page = withConn(url) { conn =>
    conn.setRequestMethod("POST")
    conn.setDoOutput(true)
    conn.setRequestProperty("Content-Type", "application/json")
    val out = conn.getOutputStream
    try { out.write(json.getBytes(UTF_8)); out.flush() } finally out.close()
    val code = conn.getResponseCode
    if (code != 200) fail(conn, code)
    val body = conn.getInputStream.readAllBytes()
    def header(name: String): Long = Option(conn.getHeaderField(name)) match {
      case Some(v) => v.toLong
      case None => throw new java.io.IOException(
        s"provider response missing header $name")
    }
    Page(body, header("x-graft-next-block"), header("x-graft-height"))
  }

  /** GET the provider's archive height (streaming pacing / default range
    * end — ≙ the reference providers' height endpoint).
    */
  def height(url: String): Long = withConn(s"$url/height") { conn =>
    conn.setRequestMethod("GET")
    val code = conn.getResponseCode
    if (code != 200) fail(conn, code)
    new String(conn.getInputStream.readAllBytes(), UTF_8).trim.toLong
  }
}

private case class WireChainPartition(url: String, table: String,
                                      fromBlock: Long, toBlock: Long,
                                      requests: Seq[ChainReq],
                                      cols: Array[String],
                                      maxAttempts: Int,
                                      retryBackoffMs: Long) extends InputPartition

/** One slice's pagination loop: query from the cursor, decode the Arrow
  * page, follow `x-graft-next-block` until the slice end. Holds exactly one
  * page in memory (the provider bounds page size — the pagination
  * contract), so a task scanning a million blocks uses the same memory as
  * one scanning a thousand.
  */
private class WireChainReader(p: WireChainPartition)
    extends PartitionReader[InternalRow] {

  private val schema: StructType =
    StructType(p.cols.map(c => ChainSource.schemaFor(p.table)(c)))
  private val allocator = new RootAllocator()
  private var cursor = p.fromBlock
  private var exhausted = cursor >= p.toBlock
  // batch-lazy page decode: holds one Arrow batch of decoded rows, not the
  // whole page; tracked so close() can release a half-read page's buffers
  // (task abort / LIMIT) before the allocator is closed
  private var iter: WireProtocol.PageRowIterator = null
  private var row: InternalRow = _

  override def next(): Boolean = {
    while ((iter == null || !iter.hasNext) && !exhausted) {
      if (iter != null) iter.close() // idempotent; self-closed on exhaustion
      val q = WireQuery(p.table, cursor, p.toBlock, p.requests, p.cols.toSeq)
      val page = WireHttp.retry(p.maxAttempts, p.retryBackoffMs)(
        WireHttp.query(p.url, q.toJson))
      if (page.nextBlock <= cursor)
        throw new IllegalStateException(
          s"provider did not advance pagination: next_block=${page.nextBlock} " +
            s"from=$cursor (${p.table} [${p.fromBlock},${p.toBlock}))")
      iter = WireProtocol.decodePageIterator(schema, page.body, allocator)
      cursor = page.nextBlock
      exhausted = cursor >= p.toBlock
    }
    if (iter != null && iter.hasNext) { row = iter.next(); true } else false
  }
  override def get(): InternalRow = row
  override def close(): Unit = {
    if (iter != null) iter.close()
    allocator.close()
  }
}
