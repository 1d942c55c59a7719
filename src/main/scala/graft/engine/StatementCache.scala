package graft.engine

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

/** Prepared-statement cache (B4): LRU of parsed logical plans keyed by
  * (crc32(sql), sha256(accessKeyId)) — the same composite key as the
  * reference's per-connection sync.Map
  * (pkg/database/database_connection.go:726-756).
  *
  * The cached value is EXECUTED (Dataset.ofRows over the parsed plan), so
  * a checksum collision must never serve another statement's plan: each
  * entry carries its full SQL text and a hit requires exact text equality,
  * falling back to a re-parse on mismatch. `checksum` is injectable so the
  * collision path is testable.
  */
class StatementCache[P](maxEntries: Int = 256,
    checksum: String => Long = Classifier.checksum) {
  case class Key(crc: Long, keyHash: String)
  private case class Entry(sql: String, value: P)

  private val map = new java.util.LinkedHashMap[Key, Entry](64, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[Key, Entry]): Boolean =
      this.size() > maxEntries
  }
  var hits = 0L
  var misses = 0L

  def key(sql: String, accessKeyId: String): Key = {
    val md = MessageDigest.getInstance("SHA-256")
    val hash = md.digest(accessKeyId.getBytes(UTF_8)).map("%02x".format(_)).mkString
    Key(checksum(sql), hash)
  }

  def get(sql: String, accessKeyId: String)(parse: => P): P = synchronized {
    val k = key(sql, accessKeyId)
    val cached = map.get(k)
    if (cached != null && cached.sql == sql) { hits += 1; cached.value }
    else { misses += 1; val p = parse; map.put(k, Entry(sql, p)); p }
  }

  /** (hits, misses), read together. */
  def counts: (Long, Long) = synchronized((hits, misses))

  def size: Int = synchronized(map.size())
}
