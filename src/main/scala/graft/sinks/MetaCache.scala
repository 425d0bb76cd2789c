package graft.sinks

import org.apache.hadoop.fs.{FileSystem, Path}

/** The driver's one memo structure: an access-ordered LRU of fixed
  * capacity that counts its own traffic.
  *
  * The contract every instance keeps:
  *  - METADATA only — inferred schemas, footer row counts, parsed commit
  *    pointers and parsed stats/bloom sidecars. Never data and never
  *    query results: every query still computes from the table bytes.
  *  - A key cannot go stale. Either it names something immutable by
  *    protocol (a create-only commit file, a uniquely named generation
  *    dir, a published sidecar also keyed by its length and mtime — see
  *    [[MetaCache.sidecar]]), or it carries a content fingerprint of
  *    what it describes (the leaf-file fingerprint of a `Tables` path).
  *    A rewrite therefore lands under a new key, and nothing is ever
  *    invalidated by hand.
  *  - Bounded. Scratch tables and gc'd generations leave keys that are
  *    never asked for again; the LRU drops them instead of holding them
  *    for the JVM's life.
  *
  * A load that throws or yields None is not cached: a corrupt or absent
  * source is re-read on the next lookup. Loads run outside the lock, so
  * two threads missing on one key may both load; the later put wins and
  * both values are equal by the contract above.
  */
final class MetaCache[K, V](capacity: Int) {
  private var nLookups = 0L
  private var nMisses = 0L
  private var nEvictions = 0L

  private val entries = new java.util.LinkedHashMap[K, V](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[K, V]): Boolean = {
      val evict = this.size() > capacity
      if (evict) nEvictions += 1
      evict
    }
  }

  /** The cached value for `key`, else `load`'s result (cached when Some). */
  def get(key: K)(load: => Option[V]): Option[V] = {
    val hit = synchronized {
      nLookups += 1
      val v = Option(entries.get(key))
      if (v.isEmpty) nMisses += 1
      v
    }
    if (hit.isDefined) hit
    else {
      val loaded = load
      loaded.foreach(v => synchronized { entries.put(key, v) })
      loaded
    }
  }

  /** [[get]] for a load that always yields a value (or throws). */
  def apply(key: K)(load: => V): V = get(key)(Some(load)).get

  def lookups: Long = synchronized(nLookups)
  def misses: Long = synchronized(nMisses)
  def evictions: Long = synchronized(nEvictions)
  def size: Int = synchronized(entries.size)
}

object MetaCache {

  /** Capacity of the caches whose entries are small (schemas, counts,
    * commit pointers). A lake pass looks up at most a few dozen keys per
    * cache, so this holds many passes' worth without evicting.
    */
  val SmallEntries = 1024

  /** Read an immutable sidecar file fully and parse it, memoized in
    * `cache` under `path@len@mtime`. Published sidecars never change, but
    * the length and mtime in the key make a mutated or corrupted file
    * re-read (and fall through to `parse`'s None) rather than serve a
    * stale parse. None when the file is absent, unreadable or does not
    * parse; callers treat None as "no metadata, keep everything".
    */
  def sidecar[V](cache: MetaCache[String, V], fs: FileSystem, p: Path)(
      parse: Array[Byte] => Option[V]): Option[V] = {
    val st = try fs.getFileStatus(p)
      catch { case _: java.io.FileNotFoundException => return None }
    cache.get(s"$p@${st.getLen}@${st.getModificationTime}") {
      try {
        val in = fs.open(p)
        val bytes = try in.readAllBytes() finally in.close()
        parse(bytes)
      } catch { case scala.util.control.NonFatal(_) => None }
    }
  }
}
