package graft.server

import javax.crypto.spec.SecretKeySpec
import io.jsonwebtoken.Jwts
import graft.core.Cube

/** JWT auth-level gate (reference tesseract-server/src/auth.rs:17-60 +
  * handlers/util.rs:78-88): tokens are HMAC-SHA256-signed with a shared
  * secret and carry an `auth_level` claim; a cube is visible when it is
  * public or the caller's level clears its `min_auth_level`. */
final class Auth(secret: Option[String]) {

  private val key = secret.map { s =>
    new SecretKeySpec(s.getBytes("UTF-8"), "HmacSHA256")
  }

  /** Auth level carried by the token; None = no/invalid token. */
  def authLevel(token: Option[String]): Option[Int] =
    for {
      k <- key
      t <- token
      lvl <- try {
        val claims = Jwts.parser().verifyWith(k).build().parseSignedClaims(t).getPayload
        Option(claims.get("auth_level", classOf[java.lang.Integer])).map(_.intValue)
      } catch { case _: Exception => None }
    } yield lvl

  /** Whether this request may see the cube. With no secret configured, only
    * public cubes are reachable via HTTP. */
  def allowed(cube: Cube, token: Option[String]): Boolean =
    cube.public || authLevel(token).exists(_ >= cube.minAuthLevel)

  /** Test/operator helper: mint a token at the given level. */
  def mint(level: Int): Option[String] =
    key.map(k => Jwts.builder().claim("auth_level", Int.box(level)).signWith(k).compact())
}

/** Response cache contract, keyed by the normalized request (path + query
  * params in URL order) — the Redis response-cache slot of the reference
  * (handlers/util.rs:152-216). Values are (body, contentType). Each key and
  * value component is percent-encoded so the separators ('&', '=', ',')
  * cannot occur inside a component: the key is injective over
  * (path, params) — repeated params (`?cuts=a&cuts=b`, an intersection)
  * can never collide with a single comma-joined `?cuts=a,b`. */
trait ResponseCache {
  /** Injective over (path, params) — every component percent-encoded so
    * separators can't be forged — and ORDER-PRESERVING: since parseQuery
    * keeps URL param order (ListMap) and the logic-layer fan-out's combo
    * order (hence response headers) follows it, two requests that differ
    * only in param order can produce different bodies and must not share
    * a cache entry. Same contract as the reference's Redis key, which is
    * built from the raw ordered query (handlers/util.rs:152-216).
    *
    * The leading `v<N>|` is the key-format version: any future change to
    * this encoding must bump it, so entries written under an older format
    * are unreachable by construction rather than by accident. In a
    * SharedFileResponseCache deployment, orphaned old-format entries still
    * occupy maxEntries slots until mtime eviction cycles them out — run
    * `/flush` once after upgrading (see SCALING.md). */
  final def key(path: String, params: Map[String, Seq[String]]): String = {
    def esc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
    "v2|" + path + "?" + params.toSeq
      .map { case (k, vs) => esc(k) + "=" + vs.map(esc).mkString(",") }.mkString("&")
  }
  def get(k: String): Option[(String, String)]
  def put(k: String, v: (String, String)): Unit
  def clear(): Unit

  /** Names the cache's current generation; a [[clear]] moves it on. The
    * server keys entries by it and compares it per request, so a `/flush`
    * on one replica of a shared cache also makes every other replica
    * re-read its tables. The default never moves: a cache used by one
    * process only needs the server's own reload. */
  def generation: String = ""
}

/** Default per-instance in-memory LRU — the zero-dependency stand-in for
  * the reference's Redis cache. */
final class LruResponseCache(maxEntries: Int = 256) extends ResponseCache {
  private val map = new java.util.LinkedHashMap[String, (String, String)](64, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[String, (String, String)]): Boolean =
      size() > maxEntries
  }
  @volatile private var gen = 0L
  def get(k: String): Option[(String, String)] = synchronized(Option(map.get(k)))
  def put(k: String, v: (String, String)): Unit = synchronized { map.put(k, v); () }
  def clear(): Unit = synchronized { map.clear(); gen += 1 }
  override def generation: String = gen.toString
}

/** Cross-instance response cache over a shared directory (NFS/EFS/local):
  * what the reference gets from Redis — N server replicas hitting one
  * cache — expressed with the one shared medium a Spark deployment already
  * has, shared storage.
  *
  * Staleness contract: entries outlive any single process, and the
  * schemaVersion folded into the key fingerprints schema + config only —
  * not the underlying parquet bytes. A data-only refresh (new parquet,
  * same schema) therefore REQUIRES a `/flush` on any replica of a
  * shared-cache deployment; a replica merely restarted after the refresh
  * would otherwise keep serving pre-refresh bodies indefinitely (the
  * in-memory LRU restarts empty, this cache deliberately does not). Same
  * operational rule as the reference's Redis cache, which also survives
  * server restarts. One `/flush` suffices: [[clear]] writes a fresh token
  * to the `_GENERATION` file, and every replica that reads a new token
  * drops its resolved tables before it serves the request (each replica
  * resolves its tables once and would otherwise keep its own snapshot).
  * The token is also part of every key, so a body that a not-yet-fresh
  * replica computes from the old files lands under the old generation,
  * where no fresh replica looks. The schema itself is re-read only by the
  * replica that received the `/flush`. One file per entry named by the sha-256 of the
  * normalized key (first line content-type, rest body), written to a temp
  * file and atomically moved so concurrent replicas never read a torn
  * entry; reads tolerate missing/competing files. Eviction caps the entry
  * count by deleting oldest-mtime files; the directory scan it needs is
  * amortized over `evictEvery` puts. */
final class SharedFileResponseCache(
    dir: java.nio.file.Path, maxEntries: Int = 1024, evictEvery: Int = 16)
    extends ResponseCache {
  import java.nio.file.{Files, StandardCopyOption}
  require(maxEntries >= 1 && evictEvery >= 1, "maxEntries and evictEvery must be positive")
  Files.createDirectories(dir)

  private def fileFor(k: String): java.nio.file.Path = {
    val h = java.security.MessageDigest.getInstance("SHA-256")
      .digest(k.getBytes("UTF-8")).map("%02x".format(_)).mkString
    dir.resolve(s"$h.resp")
  }

  def get(k: String): Option[(String, String)] = {
    val f = fileFor(k)
    try {
      if (!Files.exists(f)) None
      else {
        val text = Files.readString(f)
        val nl = text.indexOf('\n')
        if (nl < 0) None else Some((text.substring(nl + 1), text.substring(0, nl)))
      }
    } catch { case _: java.io.IOException => None } // racing replica: treat as miss
  }

  def put(k: String, v: (String, String)): Unit = {
    val (body, contentType) = v
    val f = fileFor(k)
    try {
      val tmp = Files.createTempFile(dir, "put", ".tmp")
      Files.writeString(tmp, contentType + "\n" + body)
      Files.move(tmp, f, StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
      evictIfOver()
      // best-effort: NOTHING here may fail the request — directory-stream
      // iteration surfaces UncheckedIOException (a RuntimeException), so a
      // bare IOException catch would leak a 500 from a computed response
    } catch { case scala.util.control.NonFatal(_) => () }
  }

  /** Files.list streams hold a directory fd until closed — walk inside a
    * try/finally, and treat a vanished directory (racing replica, manual
    * rm -rf) as empty rather than failing the request. */
  private def listAll(): Array[java.nio.file.Path] = {
    val s = try Files.list(dir) catch { case scala.util.control.NonFatal(_) => return Array.empty }
    // iteration throws UncheckedIOException (not IOException) if the dir
    // vanishes mid-walk — same treat-as-empty contract
    try s.toArray.map(_.asInstanceOf[java.nio.file.Path])
    catch { case scala.util.control.NonFatal(_) => Array.empty }
    finally s.close()
  }

  /** mtime with a guard: a racing replica may delete a listed file between
    * the listing and the stat — treat it as oldest so it sorts first and
    * the (idempotent) deleteIfExists simply no-ops. */
  private def mtimeOrZero(p: java.nio.file.Path): Long =
    try Files.getLastModifiedTime(p).toMillis catch { case _: java.io.IOException => 0L }

  /** Evictions amortize: a full directory scan per put would be O(entries)
    * NFS metadata I/O on every cache write, so only every `evictEvery`-th
    * put pays the single listing (serving both the entry cap and the
    * orphaned-tmp sweep). The cap is therefore soft by up to evictEvery
    * entries — irrelevant for a response cache. */
  private val putCounter = new java.util.concurrent.atomic.AtomicLong()

  private def evictIfOver(): Unit = {
    if (putCounter.incrementAndGet() % evictEvery != 0) return
    val all = listAll()
    val entries = all.filter(_.toString.endsWith(".resp"))
    if (entries.length > maxEntries)
      entries.sortBy(mtimeOrZero)
        .take(entries.length - maxEntries)
        .foreach(p => try Files.deleteIfExists(p) catch { case _: java.io.IOException => () })
    // orphaned temp files (failed put, kill mid-move) would otherwise
    // accumulate forever — sweep any older than a minute (never an
    // in-flight write; the write+move window is milliseconds)
    val cutoff = System.currentTimeMillis() - 60000L
    all.filter(p => p.toString.endsWith(".tmp") && mtimeOrZero(p) < cutoff)
      .foreach(p => try Files.deleteIfExists(p) catch { case _: java.io.IOException => () })
  }

  private val generationFile = dir.resolve("_GENERATION")

  /** Moves the generation on first, so a replica that reads the new token
    * never serves an entry of the old one. */
  def clear(): Unit = {
    val tmp = Files.createTempFile(dir, "gen", ".tmp")
    Files.writeString(tmp, java.util.UUID.randomUUID().toString)
    Files.move(tmp, generationFile, StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
    listAll().filter(_.toString.endsWith(".resp"))
      .foreach(p => try Files.deleteIfExists(p) catch { case scala.util.control.NonFatal(_) => () })
  }

  /** "" until the first clear. The token is replaced by an atomic move, so
    * a read sees the old token or the new one; a failed read reports "",
    * which at worst costs one extra table re-read. */
  override def generation: String =
    try Files.readString(generationFile) catch { case _: java.io.IOException => "" }
}
