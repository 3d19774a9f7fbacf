package graft.delta

import org.apache.hadoop.fs.{FileSystem, Path}

/** The commit-write seam: Delta's whole transactional story reduces to
  * "exactly one writer creates `_delta_log/N.json`". How that mutual
  * exclusion is achieved is a PER-SCHEME property of the storage system
  * (the delta-spark LogStore idea):
  *
  *  - POSIX filesystems: `O_CREAT|O_EXCL` (CREATE_NEW) is atomic.
  *  - HDFS / ABFS / GCS: `FileSystem.create(overwrite=false)` is a
  *    namespace operation — atomic.
  *  - S3A-style object stores: `create(overwrite=false)` is CHECK-THEN-
  *    PUT — two committers can both "win". S3 proper now offers
  *    conditional PUT (If-None-Match), but Hadoop's S3A doesn't surface
  *    it through this API; the reference's delta-rs 0.6.4 documents the
  *    same caveat. The [[CheckThenPut]] default keeps that documented
  *    parity; deployments needing true safety register a store backed by
  *    a lock service or a conditional-put client via [[LogStore.register]].
  */
trait LogStore {

  /** Create `target` holding exactly `bytes` iff it does not exist.
    * MUST throw [[org.apache.hadoop.fs.FileAlreadyExistsException]] (or
    * any IOException after which `target` exists) when another committer
    * won — the retry loop upstream treats that as a version conflict. */
  def writePutIfAbsent(fs: FileSystem, target: Path, bytes: Array[Byte]): Unit

  /** Whether writePutIfAbsent is truly conditional on this store. False
    * means a lost-update window exists (document, don't pretend). */
  def atomicPutIfAbsent: Boolean = true
}

object LogStore {

  /** Hidden temp name for a `_delta_log` file being written,
    * `.<name>.tmp-<uuid8>`: listers skip it, and log cleanup sweeps it
    * once aged. */
  private[delta] def tempName(name: String): String =
    s".$name.tmp-${java.util.UUID.randomUUID().toString.take(8)}"

  /** POSIX CREATE_NEW — atomic on local filesystems. */
  /** Write fully to a same-directory hidden temp file, close, then move
    * into place — the commit body becomes visible to listers and readers
    * ALL-OR-NOTHING. Creating the destination and then streaming bytes
    * into it (the pre-r13 shape) exposed a window where a concurrent
    * `latestVersion` saw the version and a concurrent replay read an
    * EMPTY or TORN body — a checkpoint written from that replay
    * persisted the wrong state durably (caught by LogStoreFuzzSpec as
    * resurrected rows). Object-store PUTs are content-atomic natively;
    * this gives filesystem namespaces the same property, exactly
    * delta-spark's HDFSLogStore rename contract. Exclusivity: an exists
    * pre-check plus rename (atomic no-overwrite on HDFS/ABFS; on raw
    * local the pre-check carries it, same as before). */
  private def publishViaRename(
      fs: FileSystem, target: Path, bytes: Array[Byte]): Unit = {
    val tmp = new Path(target.getParent, tempName(target.getName))
    val out = fs.create(tmp, /*overwrite=*/ true)
    try out.write(bytes) finally out.close()
    var published = false
    try {
      if (fs.exists(target))
        throw new org.apache.hadoop.fs.FileAlreadyExistsException(
          s"$target already exists")
      if (!fs.rename(tmp, target)) {
        if (fs.exists(target))
          throw new org.apache.hadoop.fs.FileAlreadyExistsException(
            s"$target already exists")
        throw new java.io.IOException(s"rename $tmp -> $target failed")
      }
      published = true
    } finally {
      if (!published)
        try fs.delete(tmp, false) catch { case _: java.io.IOException => () }
    }
  }

  object Posix extends LogStore {
    override def writePutIfAbsent(fs: FileSystem, target: Path, bytes: Array[Byte]): Unit = {
      val p = java.nio.file.Paths.get(target.toUri.getPath)
      // full body to a temp sibling first, then PUBLISH atomically via
      // hard link — link(2) is all-or-nothing AND fails with EEXIST, so
      // this keeps CREATE_NEW's exclusivity while closing the torn-read
      // window the old create-then-stream left open (see
      // [[publishViaRename]]). Filesystems without hard links fall back
      // to exists-check + ATOMIC_MOVE (content still atomic).
      val tmp = p.resolveSibling(tempName(p.getFileName.toString))
      val out = java.nio.file.Files.newOutputStream(tmp,
        java.nio.file.StandardOpenOption.CREATE_NEW,
        java.nio.file.StandardOpenOption.WRITE)
      try out.write(bytes) finally out.close()
      try {
        try java.nio.file.Files.createLink(p, tmp)
        catch {
          case e: java.nio.file.FileAlreadyExistsException => throw e
          case _: UnsupportedOperationException | _: java.nio.file.FileSystemException =>
            publishNoHardlink(p, tmp)
        }
      } finally java.nio.file.Files.deleteIfExists(tmp)
    }

    /** No hard links: reserve exclusivity with a ZERO-BYTE CREATE_NEW of
      * the destination, then ATOMIC_MOVE the full temp over the
      * reservation. Racers still fail the CREATE_NEW; readers never
      * observe partial CONTENT — the old stream-into-destination shape
      * let a truncation landing on a newline boundary parse as a
      * valid-but-incomplete commit (silently wrong snapshot). The
      * residual window is a zero-byte destination, which
      * readCommitActions refuses LOUDLY (zero-action bodies), and whose
      * length change the snapshot-cache fingerprint catches — fail-stop,
      * never silent. */
    private[delta] def publishNoHardlink(
        p: java.nio.file.Path, tmp: java.nio.file.Path): Unit = {
      java.nio.file.Files.newOutputStream(p,
        java.nio.file.StandardOpenOption.CREATE_NEW,
        java.nio.file.StandardOpenOption.WRITE).close()
      try java.nio.file.Files.move(tmp, p,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      catch {
        case _: UnsupportedOperationException |
             _: java.nio.file.AtomicMoveNotSupportedException =>
          // no atomic move either (exotic FS): the reservation is
          // already ours — stream into it; content atomicity is
          // honestly lost but exclusivity holds
          val dst = java.nio.file.Files.newOutputStream(p,
            java.nio.file.StandardOpenOption.WRITE,
            java.nio.file.StandardOpenOption.TRUNCATE_EXISTING)
          try dst.write(java.nio.file.Files.readAllBytes(tmp))
          finally dst.close()
      }
    }
  }

  /** `FileSystem.create(overwrite=false)` exclusivity on transactional
    * namespaces (HDFS, ABFS, GCS connector), now with content-atomic
    * publish via temp + rename (rename refuses an existing destination
    * on those namespaces, so exclusivity is preserved). */
  object CreateNoOverwrite extends LogStore {
    override def writePutIfAbsent(fs: FileSystem, target: Path, bytes: Array[Byte]): Unit =
      publishViaRename(fs, target, bytes)
  }

  /** S3A-style fallback: an explicit existence probe narrows (but cannot
    * close) the lost-update window; `atomicPutIfAbsent` is honestly
    * false. Matches the reference stack's documented S3 behavior. The
    * content-atomic temp+rename publish mirrors a real PUT's
    * all-or-nothing visibility. */
  object CheckThenPut extends LogStore {
    override def atomicPutIfAbsent: Boolean = false
    override def writePutIfAbsent(fs: FileSystem, target: Path, bytes: Array[Byte]): Unit =
      publishViaRename(fs, target, bytes)
  }

  /** Wrap a non-atomic store with external mutual exclusion (the
    * "lock provider" hook: a DynamoDB/ZooKeeper/etcd lease in a real
    * deployment; any `withLock` that serializes committers of one table
    * works). Inside the lock, exists + put IS conditional. */
  final class Locked(inner: LogStore, withLock: (String, () => Unit) => Unit)
      extends LogStore {
    override def writePutIfAbsent(fs: FileSystem, target: Path, bytes: Array[Byte]): Unit =
      withLock(target.toString, { () =>
        if (fs.exists(target))
          throw new org.apache.hadoop.fs.FileAlreadyExistsException(
            s"$target already exists")
        inner.writePutIfAbsent(fs, target, bytes)
      })
  }

  /** The conditional-put primitive modern object stores expose natively
    * (S3 `If-None-Match: *`, GCS `x-goog-if-generation-match: 0`, Azure
    * `If-None-Match: *`). Hadoop's FileSystem API doesn't surface it, so
    * a deployment supplies a thin client against the store's own SDK;
    * [[ConditionalPut]] turns that one primitive into a fully atomic
    * LogStore. Return false (or throw) when the key already existed. */
  trait ConditionalPutClient {
    def putIfAbsent(key: String, bytes: Array[Byte]): Boolean
  }

  /** LogStore over a native conditional-put primitive — the modern,
    * lock-free answer for object stores. Atomicity comes from the store
    * itself, not from a Hadoop create path. */
  final class ConditionalPut(client: ConditionalPutClient) extends LogStore {
    override def writePutIfAbsent(fs: FileSystem, target: Path, bytes: Array[Byte]): Unit =
      if (!client.putIfAbsent(target.toString, bytes))
        throw new org.apache.hadoop.fs.FileAlreadyExistsException(
          s"$target already exists (conditional put refused)")
  }

  /** Shipped lock-provider reference implementation: a TTL lease file per
    * commit key. Mirrors the externalized-arbitration shape of
    * delta-spark's S3DynamoDBLogStore: the lease lives on a filesystem
    * whose namespace IS transactional (HDFS, local POSIX, ABFS — possibly
    * a different store than the table; placing it on a check-then-put
    * store would just move the race, and the constructor refuses it).
    *
    * Safety design (each step uses an ATOMIC namespace primitive):
    *  - **Acquire** goes through `LogStore.forScheme(lease scheme)`, i.e.
    *    `O_CREAT|O_EXCL` on `file:` and transactional create elsewhere —
    *    NEVER Hadoop's `create(overwrite=false)`, which on
    *    RawLocalFileSystem is exists-check-then-truncating-open (the very
    *    anomaly this class exists to fence; it let two committers hold
    *    the lease concurrently).
    *  - **Takeover** of an expired lease (a crashed committer) is
    *    arbitrated by an atomic CLAIM-file create, then executed as a
    *    content-digest-named RENAME, never a blind delete. The claim is
    *    what makes the takeover single-winner: Hadoop's local rename is
    *    POSIX rename(2), which REPLACES an existing destination, so two
    *    takers racing the same tombstone name would NOT exclude each
    *    other — the second rename could displace a fresh live lease
    *    created in between. With the claim, every taker that judged the
    *    same expired content races one `O_CREAT|O_EXCL` claim create;
    *    only the winner re-reads (the content must still be what it
    *    judged), renames, re-stamps the tombstone's mtime to its own
    *    birth (rename preserves the reaped — stale by construction —
    *    source mtime, which would make the tombstone sweep-eligible
    *    instantly), and verifies the tombstone before re-racing through
    *    atomic create. Claim bodies are unique per takeover attempt and
    *    deleted only after verifying they are still this attempt's; a
    *    claim whose winner crashed is reclaimed at ttl+grace staleness
    *    through a rename-verified GC (never a raw stat-then-delete,
    *    which would race the path's reuse and could remove a fresh
    *    winner's claim; a stat or read failure mid-GC decides NOTHING —
    *    restoring would re-stamp a dead claim's mtime and starve the
    *    takeover). A torn/unparsable lease (a holder
    *    killed mid-heartbeat-rewrite) reads as live UNTIL its file has
    *    sat untouched for a full TTL+grace — live holders rewrite at
    *    ttl/3 and self-repair their own tears (below), so a stale mtime
    *    proves no heartbeat is behind it; without that escape hatch a
    *    crash in the rewrite window would deadlock the key forever.
    *  - **Renewal**: a heartbeat rewrites the lease at ttl/3 while the
    *    body runs, so a body that outlives the initial TTL (driver GC
    *    pause, slow store) keeps its lease instead of being reaped
    *    mid-commit. Readers treat a torn/unparsable lease as LIVE. A
    *    tear the renewer ITSELF produced (its rewrite failed between the
    *    truncate and the write) is repaired on the next tick — while the
    *    file's mtime stays a graceMs margin under reap eligibility and
    *    the renewer has not stalled past a TTL, that repair is
    *    single-writer-safe; past either bound it declares the loss
    *    instead of fighting. A lease MISSING for a full TTL of
    *    consecutive reads (deleted or renamed from under the holder) is
    *    likewise declared lost at renewal time, not just at release.
    *  - **Debris sweep**: each acquisition, while holding the key's
    *    lease, GCs takeover leftovers a crashed taker abandoned (orphan
    *    tombstones, dead-generation claims, interrupted claim-GC files)
    *    once they are ttl+grace stale — they never block commits, but
    *    without a sweeper they would accumulate forever.
    *  - **Release** deletes only after re-reading its own acquisition
    *    token AND confirming the lease has not already expired (an
    *    expired own lease may be mid-takeover — it is left for reaping);
    *    if ownership was lost mid-body the release logs loudly and
    *    leaves the usurper's lease alone (`ownershipLostCount` observes
    *    this). The read-to-delete instant remains best-effort — fencing
    *    a pause between check and act takes fencing tokens, which a
    *    filesystem cannot provide.
    *
    * Clock assumptions (document, don't pretend): expiry is absolute
    * wall-clock millis stamped by the holder. A taker with a fast clock
    * can reap early; `graceMs` of slack absorbs NTP-grade skew, and
    * deployments must keep committer clocks within `graceMs` of each
    * other (the same contract DynamoDB-lease implementations state).
    * Use via
    * `LogStore.register(scheme, new Locked(CheckThenPut, new FileLease(fs, dir).withLock))`.
    */
  final class FileLease(
      leaseFs: FileSystem, leaseDir: Path,
      ttlMs: Long = 30000L, acquireTimeoutMs: Long = 60000L,
      graceMs: Long = 1000L,
      ownerId: String = java.util.UUID.randomUUID().toString) {
    require(!ownerId.exists(_.isWhitespace),
      s"ownerId must not contain whitespace: '$ownerId'")

    /** Each `withLock` call stamps a FRESH `ownerId:<nonce>` token into
      * the lease, so ownership checks distinguish ACQUISITIONS, not just
      * instances: a shared per-JVM FileLease whose thread A stalled past
      * TTL and whose thread B then reaped and re-acquired the same key
      * would otherwise present the same owner string to both — A's
      * renewer would extend B's lease and A's release would delete it,
      * silently cascading the lost exclusion with ownershipLostCount
      * still 0. */
    private def freshToken(): String =
      ownerId + ":" + java.util.UUID.randomUUID().toString.take(8)

    private val utf8 = java.nio.charset.StandardCharsets.UTF_8

    /** The atomic create primitive for the LEASE namespace. Refuses a
      * scheme whose registered store is check-then-put: a lease that can
      * be double-created provides no mutual exclusion at all. */
    private val leaseStore: LogStore = {
      val scheme = Option(leaseFs.getUri.getScheme).getOrElse("file")
      val s = LogStore.forScheme(scheme)
      require(s.atomicPutIfAbsent,
        s"FileLease requires an atomic-create lease namespace, but the LogStore " +
          s"registered for scheme '$scheme' is check-then-put. Place the lease dir " +
          "on a transactional namespace (local POSIX, HDFS, ABFS) or register an " +
          "atomic store for it first — a check-then-put lease just moves the race.")
      s
    }

    /** Times ownership was observed lost at renewal/release (the body
      * outlived its lease). Monitoring/spec hook; any nonzero value means
      * a commit may have raced and the TTL should be raised. */
    val ownershipLostCount = new java.util.concurrent.atomic.AtomicInteger(0)

    /** Times a reap displaced a live lease it could not restore (the
      * triple-interleaving hazard documented in [[reapUnderClaim]]).
      * Monitoring/spec hook; any nonzero value means exclusion may have
      * been violated for a key and the TTL/grace tuning needs review. */
    val reapHazardCount = new java.util.concurrent.atomic.AtomicInteger(0)

    private def leasePath(key: String): Path =
      // one lease per commit key; sanitize the URI into a flat file name
      new Path(leaseDir, java.net.URLEncoder.encode(key, "UTF-8") + ".lease")

    private def readLease(p: Path): String = {
      val in = leaseFs.open(p)
      try {
        val buf = new java.io.ByteArrayOutputStream()
        org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 4096, false)
        new String(buf.toByteArray, utf8)
      } finally in.close()
    }

    // Parses go through the CRC-framed [[FileLease.leaseBody]] format:
    // a torn read (the renewal heartbeat rewrites in place, and a
    // truncating write is NOT atomic) must parse as INVALID — treated
    // live by takers, transient by the renewer — never as a
    // smaller-number expiry. An earlier CRC-less format lost a full-suite
    // race exactly that way: a reader caught "owner 17" mid-write,
    // judged epoch-17 expired, and reaped a live lease.
    private def ownerOf(txt: String): Option[String] =
      FileLease.parseLease(txt).map(_._1)
    private def expiryOf(txt: String): Option[Long] =
      FileLease.parseLease(txt).map(_._2)

    private def tryAcquire(lock: Path, token: String): Boolean = {
      val body = FileLease.leaseBody(token, System.currentTimeMillis() + ttlMs)
      try { leaseStore.writePutIfAbsent(leaseFs, lock, body); true }
      catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException |
            _: java.nio.file.FileAlreadyExistsException =>
          // lease exists (normal contention): reap iff expired, then loop
          // back to the atomic create so concurrent takers re-race
          reapIfExpired(lock)
          false
        case _: java.io.IOException =>
          // NOT an exists-conflict: our own create may have half-succeeded
          // (CREATE_NEW made the file, the write then failed), leaving a
          // fresh TORN lease that every committer — including us — would
          // otherwise treat as live for a full ttl+grace. A torn file
          // here is OURS with near-certainty (a foreign creator's file
          // would have surfaced as the exists-conflict above), so clean
          // it up instead of stalling the key; anything that parses VALID
          // is someone's live lease and is left alone.
          val torn =
            try FileLease.parseLease(readLease(lock)).isEmpty
            catch { case _: java.io.IOException => false }
          if (torn) {
            try { leaseFs.delete(lock, false); () }
            catch { case _: java.io.IOException => () }
          } else reapIfExpired(lock)
          false
      }
    }

    /** Take over a crashed committer's lease without ever deleting a
      * live one. Exactly one taker per lease GENERATION (= exact byte
      * content) executes the takeover: takers race an atomic claim-file
      * create, and only the winner touches the lock path (see the class
      * doc — local rename REPLACES destinations, so tombstone naming
      * alone cannot arbitrate). */
    private def reapIfExpired(lock: Path): Unit = {
      val txt = try readLease(lock) catch { case _: java.io.IOException => return }
      val now = System.currentTimeMillis()
      val expired = expiryOf(txt) match {
        case Some(e) => e + graceMs < now
        case None =>
          // torn/unparsable: a holder killed between the heartbeat's
          // truncate and write leaves this state FOREVER — without an
          // escape hatch every future commit on the key would deadlock.
          // A live holder rewrites at ttl/3, so a file untouched for a
          // full ttl+grace provably has no heartbeat behind it.
          val mtime =
            try leaseFs.getFileStatus(lock).getModificationTime
            catch { case _: java.io.IOException => return }
          mtime + ttlMs + graceMs < now
      }
      if (!expired) return
      val digest = {
        val md = java.security.MessageDigest.getInstance("SHA-1")
        md.digest(txt.getBytes(utf8)).map("%02x".format(_)).mkString
      }
      // Atomic claim: one winner per judged content. A claim left by a
      // crashed winner goes stale by mtime (the reap sequence is µs-scale,
      // ttl+grace of stillness — grace for the same clock-skew contract
      // every other cross-clock judgment here honors — is conclusive) and
      // is cleared for retry. The claim body is unique PER TAKEOVER
      // ATTEMPT, so the finally below can verify it still deletes its own
      // claim: a winner stalled past the claim TTL may have had its claim
      // reclaimed and the path re-claimed by a fresh taker (possibly with
      // this same ownerId, from a sibling thread) — an unverified delete
      // would remove the live claim.
      val claim = new Path(lock.getParent, lock.getName + ".reap." + digest + ".claim")
      val claimBody = freshToken() // same per-attempt-unique shape as lease tokens
      val claimed =
        try { leaseStore.writePutIfAbsent(leaseFs, claim, claimBody.getBytes(utf8)); true }
        catch {
          case _: java.io.IOException =>
            val stale =
              try leaseFs.getFileStatus(claim).getModificationTime + ttlMs + graceMs < now
              catch { case _: java.io.IOException => false }
            if (stale) reclaimJudgedStaleClaim(claim)
            false
        }
      if (!claimed) return
      try reapUnderClaim(lock, txt, digest)
      finally {
        // verified cleanup of DEBRIS must never abort the acquisition:
        // a failed delete just leaves the claim for the sweep
        try {
          if (readLease(claim) == claimBody) { leaseFs.delete(claim, false); () }
        } catch { case _: java.io.IOException => () } // gone/unreadable: leave it
      }
    }

    /** Reclaim a claim file the caller has ALREADY judged stale by mtime,
      * without ever deleting a fresh one. A plain stat-then-delete races
      * the path's reuse: between our stat of a crashed winner's stale
      * claim and our delete, another taker can reclaim it and land its
      * own FRESH claim at the same path — our delete would then remove a
      * live winner's claim and admit two concurrent takeovers. Instead
      * the claim is RENAMED to a nonce-unique GC name (atomic and
      * single-winner on the source; the destination is never contended),
      * and the verdict is re-checked on the renamed file's preserved
      * mtime: genuinely stale → discard; fresh (we displaced a live
      * winner) → put it back via atomic create, counting a reap hazard
      * loudly if the path was re-claimed in the microseconds between.
      * (The claim is a PRE-arbiter: even if a displaced winner and a
      * fresh claimant both reach [[reapUnderClaim]], the lock-level
      * re-read + source-unique rename + tombstone verify there is the
      * final takeover guard, with its own hazard counter.) */
    private[delta] def reclaimJudgedStaleClaim(claim: Path): Unit = {
      val gc = new Path(claim.getParent,
        claim.getName + ".gc." + java.util.UUID.randomUUID().toString.take(8))
      val renamed =
        try leaseFs.rename(claim, gc) catch { case _: java.io.IOException => false }
      if (!renamed) return
      val mtime =
        try Some(leaseFs.getFileStatus(gc).getModificationTime)
        catch { case _: java.io.IOException => None }
      mtime match {
        // a failed stat must decide NOTHING: discarding would destroy a
        // fresh winner's claim, while restoring would stamp a fresh mtime
        // onto a possibly-dead claim (putIfAbsent cannot preserve the
        // original timestamp), rejuvenating it by a TTL per transient
        // failure and starving the takeover indefinitely. Returning
        // leaves the claim path FREE (the rename already vacated it), so
        // the generation's takeover proceeds, and the gc file becomes
        // sweep fodder after ttl+grace.
        case None => ()
        case Some(m) if m + ttlMs + graceMs < System.currentTimeMillis() =>
          leaseFs.delete(gc, false); () // proven stale: discard
        case _ =>
          // fresh: we displaced a live winner — put its claim back
          val content =
            try Some(readLease(gc).getBytes(utf8))
            catch { case _: java.io.IOException => None }
          content match {
            case None => () // unreadable: as above, decide nothing
            case Some(bytes) =>
              val restored =
                try { leaseStore.writePutIfAbsent(leaseFs, claim, bytes); true }
                catch { case _: java.io.IOException => false }
              leaseFs.delete(gc, false)
              if (!restored) {
                reapHazardCount.incrementAndGet()
                LogStore.logger.error(
                  s"FileLease: displaced a fresh reap claim at $claim and could " +
                    "not restore it (the path was re-claimed mid-restore); two " +
                    "takeovers may run concurrently for this key")
              }
          }
      }
    }

    /** Best-effort GC of takeover debris a CRASHED taker leaves behind:
      * an orphan tombstone (died between the lock→tomb rename and the
      * tomb delete), an orphan claim for a dead lease generation (died
      * between the claim win and the rename), or an orphan `.gc.` file
      * (died inside [[reclaimJudgedStaleClaim]]). None of these block
      * commits — the lock path itself is free — but without a sweeper
      * they accumulate forever on a long-lived table. Runs once per
      * acquisition, AFTER this committer holds the key's lease, which is
      * what makes the stale-mtime judgment conclusive: any reap sequence
      * for this key that is still alive re-reads the lock path and backs
      * off on our fresh lease, and the sequences are µs-scale, so
      * ttl+grace of stillness proves abandonment. Tombstone and GC names
      * embed a content digest / random nonce and are never reused;
      * claims' paths ARE reused, so they go through the rename-verified
      * reclaim instead of a raw delete. ANOTHER key's whole namespace can
      * prefix-match (keys are URL-encoded, which keeps `.`, so a key
      * literally named `k.lease.reap.x` has lock `k.lease.reap.x.lease`
      * and debris `k.lease.reap.x.lease.reap.<digest>`, both matching
      * key k's prefix) — so the suffix after this lock's prefix must not
      * contain `.lease` at all; our own debris suffixes never can (hex
      * digests, hex nonces, and the literal words `claim`/`gc`), while
      * every foreign-key name necessarily carries its own `.lease`
      * segment there. This lock's lease makes staleness conclusive only
      * for its OWN debris — a foreign key's tombstone may be mid-takeover
      * under a lease this holder knows nothing about. Guarded by NonFatal
      * (an exception escaping would abort the commit body), and called
      * inside withLock's try so even non-NonFatal throwables release. */
    private def sweepReapDebris(lock: Path): Unit = try {
      val now = System.currentTimeMillis()
      val prefix = lock.getName + ".reap."
      val entries =
        try leaseFs.listStatus(lock.getParent).filter { s =>
          val n = s.getPath.getName
          // the scanned suffix is re-anchored with a dot, or a foreign
          // `.lease` segment STRADDLING the boundary escapes the check
          // (key `k.lease.reap` → lock `k.lease.reap.lease` → suffix
          // after the full prefix would be the dot-less `lease`)
          n.startsWith(prefix) && !("." + n.stripPrefix(prefix)).contains(".lease")
        } catch { case _: java.io.IOException => return }
      entries.foreach { st =>
        try {
          if (st.getModificationTime + ttlMs + graceMs < now) {
            if (st.getPath.getName.endsWith(".claim")) reclaimJudgedStaleClaim(st.getPath)
            else { leaseFs.delete(st.getPath, false); () }
          }
        } catch { case scala.util.control.NonFatal(_) => () }
      }
    } catch { case scala.util.control.NonFatal(_) => () }

    /** The claim-holder's takeover: re-read, rename, verify. */
    private def reapUnderClaim(lock: Path, txt: String, digest: String): Unit = {
      // Re-read under the claim: a fresh lease that replaced the judged
      // content between our first read and the claim win is LIVE.
      val cur = try readLease(lock) catch { case _: java.io.IOException => return }
      if (cur != txt) return
      val tomb = new Path(lock.getParent, lock.getName + ".reap." + digest)
      val renamed = try leaseFs.rename(lock, tomb) catch { case _: java.io.IOException => false }
      if (!renamed) return
      // Re-stamp the tombstone's mtime to ITS OWN birth: rename preserves
      // the source's mtime, and a reaped lease is stale by construction —
      // a born-stale tombstone would be sweep-eligible instantly, letting
      // a concurrent holder's sweep delete it before the verify below and
      // silently foreclose the live-lease restore. (Best-effort; the
      // µs window before the stamp lands is accepted. A FAILED stamp is
      // remembered: a missing tombstone is benign only while the stamp
      // held, because only a fresh-stamped tomb is sweep-proof.)
      val restamped =
        try { leaseFs.setTimes(tomb, System.currentTimeMillis(), -1); true }
        catch { case _: java.io.IOException => false }
      // Verify the tombstone carries the content we judged: if a
      // stalled-but-alive holder's heartbeat renewed the lease in the
      // µs between the re-read and the rename, we just reaped a LIVE
      // lease — restore it instead of proceeding. A MISSING tombstone
      // (someone else removed it) leaves nothing to verify or restore; a
      // transient read error is retried, and persistent failure is a
      // foreclosed verify — counted as a hazard, the tombstone left for
      // the sweep, because the content we failed to verify may have been
      // a live renewal.
      var got: Option[String] = None
      var missing = false
      var verified = false
      var attempts = 0
      while (!verified && !missing && attempts < 3) {
        attempts += 1
        try { got = Some(readLease(tomb)); verified = true }
        catch {
          case _: java.io.FileNotFoundException => missing = true
          case _: java.io.IOException => Thread.sleep(2)
        }
      }
      if (missing && restamped) ()
      else if (missing || !verified) {
        // missing without a stamp: a concurrent sweep may have deleted
        // the born-stale tomb before this verify — the restore is
        // foreclosed and the content may have been a live renewal.
        // Same accounting for a persistent read failure.
        reapHazardCount.incrementAndGet()
        LogStore.logger.error(
          s"FileLease: could not verify the reaped tombstone $tomb (" +
            (if (missing) "deleted before the verify, and its sweep-proof " +
              "re-stamp had failed" else "persistent read failure") +
            "); if the judged lease was renewed mid-reap its restore is " +
            "foreclosed — mutual exclusion may have been violated for this key")
      }
      else if (got.contains(txt)) {
        // verified our reap: the tombstone is debris — a failed delete
        // must not abort the acquisition (the sweep will take it)
        try { leaseFs.delete(tomb, false); () }
        catch { case _: java.io.IOException => () }
      }
      else {
        // Restore WITHOUT overwriting (rename would replace a lease
        // re-created at the path meanwhile): atomic put-if-absent either
        // puts the stolen content back or refuses, and a refusal is the
        // (triple-interleaving) hazard we surface loudly rather than
        // paper over. Hazard accounting comes BEFORE the debris delete so
        // a delete failure can never mask a real violation.
        val restored =
          try { leaseStore.writePutIfAbsent(leaseFs, lock, got.get.getBytes(utf8)); true }
          catch { case _: java.io.IOException => false }
        if (!restored) {
          reapHazardCount.incrementAndGet()
          LogStore.logger.error(
            s"FileLease: reaped a live lease at $lock and could not restore it " +
              "(a third committer re-created the path mid-restore); mutual " +
              "exclusion may have been violated for this key")
        }
        try { leaseFs.delete(tomb, false); () }
        catch { case _: java.io.IOException => () }
      }
    }

    /** Heartbeat: extend our lease at ttl/3 until cancelled. The rewrite
      * is a plain truncating overwrite — NOT atomic — which is safe only
      * because lease bodies are CRC-framed: a reader catching the torn
      * window fails the checksum and conservatively treats the lease as
      * live (takers) or transient (this renewer). The read-to-write
      * window here is microseconds; a legitimate takeover can interleave
      * only if this holder was already > TTL stalled at exactly that
      * point, and the NEXT renewal or the release observes and reports
      * the foreign owner. */
    private def startRenewer(lock: Path, token: String,
        lost: java.util.concurrent.atomic.AtomicBoolean)
        : java.util.concurrent.ScheduledExecutorService = {
      val exec = java.util.concurrent.Executors.newSingleThreadScheduledExecutor(r => {
        val t = new Thread(r, s"graft-lease-renew-${lock.getName}"); t.setDaemon(true); t
      })
      val period = math.max(ttlMs / 3, 50L)
      // Self-tear repair state: `selfTear` is raised while OUR truncating
      // rewrite is in flight and stays raised if it failed mid-write.
      // Without repair, one failed heartbeat write would freeze the file
      // as torn forever — every later tick would read owner.isEmpty and
      // no-op, the mtime would stop moving, and ttl+grace later a taker
      // would reap a LIVE holder's lease.
      val selfTear = new java.util.concurrent.atomic.AtomicBoolean(false)
      // instant of this renewer's last lease READ: a read-to-read gap
      // past the TTL means the holder was stalled long enough that a
      // taker may have reaped and be mid-acquisition — a torn read then
      // could be the TAKER's µs create window, not our own tear, and
      // "repairing" would clobber a legitimately taken-over lease
      val lastTick =
        new java.util.concurrent.atomic.AtomicLong(System.currentTimeMillis())
      def rewrite(): Unit = {
        selfTear.set(true)
        val out = leaseFs.create(lock, /*overwrite=*/ true)
        try out.write(FileLease.leaseBody(token, System.currentTimeMillis() + ttlMs))
        finally out.close()
        selfTear.set(false)
      }
      def giveUp(what: String,
          hint: String = "Check the lease filesystem's health."): Nothing = {
        lost.set(true)
        ownershipLostCount.incrementAndGet()
        LogStore.logger.error(
          s"FileLease: lease $lock $what — a taker may own the key now; the " +
            s"in-flight commit may race. $hint")
        throw new InterruptedException("lease possibly reaped — stop renewing")
      }
      // instant the lease was first observed MISSING (0 = not missing): a
      // vanished lock file (a taker crashed between its rename and its
      // restore, or a stray delete) would otherwise read as a transient
      // IOException forever — the next committer acquires the vacant path
      // and runs concurrently, detected only at release. A full TTL of
      // consecutive missing reads is conclusive loss.
      val firstMissing = new java.util.concurrent.atomic.AtomicLong(0L)
      exec.scheduleAtFixedRate(() => {
        try {
          val txt =
            try readLease(lock)
            catch {
              case e: java.io.FileNotFoundException =>
                val now = System.currentTimeMillis()
                if (firstMissing.get == 0L) { firstMissing.set(now); throw e }
                else if (now - firstMissing.get > ttlMs)
                  giveUp("has been MISSING for a full TTL (deleted or renamed " +
                    "from under this holder)")
                else throw e
            }
          firstMissing.set(0L)
          // the stall gap is measured READ-to-READ, stamped at the same
          // instant it is measured: a pause before this read inflates
          // this tick's gap, and a pause after it (later in this tick)
          // inflates the NEXT tick's — either way the guard sees it. A
          // start-of-tick or end-of-tick stamp each leaves one side open.
          val now = System.currentTimeMillis()
          val stalled = now - lastTick.getAndSet(now) > ttlMs
          val owner = ownerOf(txt)
          if (owner.contains(token)) {
            // Residual window (c), documented not closed: a pause longer
            // than ttl+grace landing between THIS read and the rewrite's
            // create lets a taker complete a whole takeover inside it —
            // the rewrite then truncates the taker's live lease. The
            // `stalled` verdict cannot help here (the pause is after the
            // measurement), and refusing to rewrite on the NEXT tick's
            // stalled=true would punish the common benign stall on an
            // uncontended key while the destructive case has already
            // happened. Victim-side detection covers it: the taker's own
            // renewer reads the foreign owner and counts the loss.
            rewrite()
          } else if (owner.isEmpty) {
            if (!selfTear.get) {
              () // torn/unparsable (someone ELSE mid-write): transient, retry
            } else if (stalled) {
              // can't trust the tear to be ours after a full-TTL stall
              giveUp("was torn by this holder's own failed heartbeat write, " +
                "and this renewer then stalled past the TTL")
            } else {
              // OUR failed rewrite left this tear. The repair-vs-give-up
              // decision uses the same quantity the reap rule uses — the
              // lock file's CURRENT mtime — minus a graceMs margin for
              // clock skew: while the file is younger than a bare TTL, no
              // taker (even one graceMs fast) can reap it, so the bytes
              // at the path are still our own tear and repairing in place
              // is single-writer-safe; each failed repair attempt
              // refreshes the mtime via its truncate, so a transient
              // failure burst keeps both the reap impossible and the
              // repair running. Residual windows, documented not closed
              // (a wall-clock lease cannot fence a pause between check
              // and act — that takes fencing tokens): (a) creates failing
              // WITHOUT truncating for a full ttl+grace, a taker reaping,
              // and this read landing in the taker's µs create window;
              // (b) a descheduling longer than graceMs between this mtime
              // check and the rewrite's create, with a maximally
              // skew-fast taker completing its whole takeover inside the
              // pause. Both end with the taker's own renewer observing
              // and counting the foreign owner. A stat failure skips the
              // tick.
              val mtime =
                try Some(leaseFs.getFileStatus(lock).getModificationTime)
                catch { case _: java.io.IOException => None }
              mtime match {
                case None => () // transient stat failure: retry next tick
                case Some(m) if m + ttlMs > System.currentTimeMillis() =>
                  rewrite()
                case _ =>
                  giveUp("was torn by this holder's own failed heartbeat write " +
                    "and then sat untouched within graceMs of reap eligibility")
              }
            }
          } else {
            giveUp(s"is no longer owned by $token (now ${owner.get}): the " +
              "lock body outlived its TTL and was taken over",
              hint = "Raise ttlMs above the worst-case commit duration.")
          }
        } catch {
          case _: InterruptedException => throw new RuntimeException("stop")
          case _: java.io.IOException => () // transient: retry next period
        }
      }, period, period, java.util.concurrent.TimeUnit.MILLISECONDS)
      exec
    }

    def withLock(key: String, body: () => Unit): Unit = {
      val lock = leasePath(key)
      val token = freshToken()
      leaseFs.mkdirs(leaseDir)
      val deadline = System.currentTimeMillis() + acquireTimeoutMs
      var contended = false
      var held = tryAcquire(lock, token)
      while (!held && System.currentTimeMillis() < deadline) {
        contended = true
        Thread.sleep(20)
        held = tryAcquire(lock, token)
      }
      if (!held)
        throw new java.io.IOException(
          s"FileLease: could not acquire $lock within ${acquireTimeoutMs}ms")
      val lostMidBody = new java.util.concurrent.atomic.AtomicBoolean(false)
      val renewer = startRenewer(lock, token, lostMidBody)
      try {
        // Crashed takers' leftovers. Debris only ever stems from a
        // takeover, so a CONTENDED acquisition always sweeps; uncontended
        // ones sample at 1/16 (debris on a since-quiet key still drains
        // within a few commits) rather than pay a directory listing on
        // every commit. Inside the try so that even a throwable the
        // sweep's own NonFatal guard can't catch (OOM, interrupt) still
        // reaches the finally — never a leaked immortal renewer.
        if (contended ||
            java.util.concurrent.ThreadLocalRandom.current().nextInt(16) == 0)
          sweepReapDebris(lock)
        body()
      } finally {
        // GRACEFUL shutdown, then wait: an in-flight renewal must COMPLETE
        // its rewrite before release reads the lease. shutdownNow would
        // interrupt it mid-write — observed as an InterruptedIOException
        // between the truncating create and the body write, leaving an
        // EMPTY lease that release misreads as "not ours" (and an
        // interrupted renewal could even re-create the lease AFTER the
        // delete, leaking it for the next acquirer's TTL). A renewal is
        // µs-scale local IO; the timeout + shutdownNow is a last resort
        // against a hung lease filesystem.
        renewer.shutdown()
        if (!renewer.awaitTermination(10, java.util.concurrent.TimeUnit.SECONDS))
          renewer.shutdownNow()
        // Release failures must NEVER escape this finally: an exception
        // here would mask the body's own outcome, and upstream commit
        // code classifies "IOException while the commit file exists" as
        // a version conflict — a throw from release would re-drive the
        // retry loop and DOUBLE-COMMIT a transaction that succeeded. A
        // failed release just leaves an own lease to expire and be
        // reaped.
        try releaseOwned(lock, token, lostMidBody.get)
        catch {
          case scala.util.control.NonFatal(e) =>
            LogStore.logger.warn(
              s"FileLease: releasing $lock failed (${e.toString}); the lease " +
                "will expire and be reaped by the next acquirer")
        }
      }
    }

    /** Ownership-verified release: delete only THIS ACQUISITION's lease
      * (token, not just instance identity). An unconditional delete here
      * could remove a usurper's live lease and cascade the lost mutual
      * exclusion one committer further. An own-token lease that is
      * ALREADY EXPIRED is not deleted either — a taker may be mid-claim
      * on exactly that content, and deleting it would race the takeover;
      * the expired lease is left for reaping (one extra reap cycle for
      * the next committer, never a stolen live lease). The read-to-delete
      * window itself is best-effort, like every check-then-act on a
      * wall-clock lease: a pause here longer than the remaining TTL can
      * still remove a successor's lease — closing that for real takes
      * fencing tokens, which a filesystem cannot provide. */
    private def releaseOwned(lock: Path, token: String, lostMidBody: Boolean): Unit = {
      val raw: Either[String, String] =
        try Right(readLease(lock))
        catch { case e: java.io.IOException => Left(e.toString) }
      val parsed = raw.toOption.flatMap(FileLease.parseLease)
      val owner = parsed.map(_._1)
      if (owner.contains(token)) {
        // grace sits on the CONSERVATIVE side, like every other cross-
        // clock judgment here: delete only while even a graceMs-fast
        // taker cannot yet judge this lease expired (expiry > now+grace,
        // not expiry+grace > now — the liberal form would delete while a
        // contract-compliant fast clock is already mid-claim on it)
        if (parsed.exists(_._2 > System.currentTimeMillis() + graceMs)) {
          leaseFs.delete(lock, false); ()
        } else {
          LogStore.logger.warn(
            s"FileLease: at release, this acquisition's lease $lock had already " +
              "expired (the renewer must have been failing at the end of the " +
              "body); leaving it to be reaped rather than racing a takeover.")
        }
      }
      else if (!lostMidBody) {
        ownershipLostCount.incrementAndGet()
        LogStore.logger.error(
          s"FileLease: at release, lease $lock is owned by " +
            s"${owner.getOrElse("<gone/unreadable>")}, not $token — the lock body " +
            "outlived its TTL; the commit that just completed may have raced " +
            s"(raw read: ${raw.fold(e => s"error $e", t => s"'$t'")})")
      }
    }
  }

  object FileLease {
    /** CRC-framed lease body: `"<owner> <expiryMs> <crc32(owner expiry)>"`.
      * The frame is what makes the heartbeat's non-atomic in-place
      * rewrite safe: any torn read fails the checksum and parses as
      * None — takers treat it as live, the renewer as transient. A torn
      * prefix that still passes CRC32 is a 2^-32 coincidence per race. */
    def leaseBody(owner: String, expiryMs: Long): Array[Byte] = {
      val payload = s"$owner $expiryMs"
      val crc = new java.util.zip.CRC32()
      crc.update(payload.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      s"$payload ${crc.getValue}".getBytes(java.nio.charset.StandardCharsets.UTF_8)
    }

    /** (owner, expiryMs) iff the body is complete and checksum-valid. */
    private[delta] def parseLease(txt: String): Option[(String, Long)] = {
      val parts = txt.trim.split(" ")
      if (parts.length != 3) return None
      for {
        expiry <- parts(1).toLongOption
        crc <- parts(2).toLongOption
        payload = s"${parts(0)} $expiry"
        c = new java.util.zip.CRC32()
        _ = c.update(payload.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        if c.getValue == crc
      } yield (parts(0), expiry)
    }
  }

  private[delta] lazy val logger =
    org.slf4j.LoggerFactory.getLogger("graft.delta.LogStore")

  private val registry =
    new java.util.concurrent.ConcurrentHashMap[String, LogStore]()
  Seq("s3", "s3a", "s3n").foreach(registry.put(_, CheckThenPut))
  registry.put("file", Posix)

  /** Register (or replace) the store for a scheme — the deployment hook
    * for conditional-put/locked commit on object stores. */
  def register(scheme: String, store: LogStore): Unit = registry.put(scheme, store)

  def forScheme(scheme: String): LogStore =
    registry.getOrDefault(scheme, CreateNoOverwrite)
}
