package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction => UFn}
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, IsNotNull, IsNull, LessThan, LessThanOrEqual, Literal}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import scala.jdk.CollectionConverters._

/** [[TxnTable]] concern module — the LOG LAYER: commit mechanics (atomic
  * version claim, token ledger, row-id stamping), checkpoints, the
  * `_delta_log` protocol mirror, per-file footer statistics, and the
  * data/cdc file writers. Everything here is O(files) driver metadata or
  * a distributed write job. */
private[sources] trait TxnLogOps { self: TxnTable.type =>
  private[sources] val actionSchema = StructType(Seq(
    StructField("version", LongType),
    StructField("op", StringType),
    StructField("action", StringType), // add | remove
    StructField("file", StringType),   // path relative to table root
    StructField("bytes", LongType)))
  private[sources] def decodeStats(json: String): FileStats = {
    val m = MiniJson.parse(json).asInstanceOf[Map[String, Any]]
    FileStats(
      m("numRecords").asInstanceOf[BigDecimal].toLongExact,
      m.getOrElse("minValues", Map.empty).asInstanceOf[Map[String, Any]],
      m.getOrElse("maxValues", Map.empty).asInstanceOf[Map[String, Any]],
      m.getOrElse("nullCount", Map.empty).asInstanceOf[Map[String, Any]]
        .map { case (k, v) => k -> v.asInstanceOf[BigDecimal].toLongExact })
  }

  private[sources] def logDir(root: String): Path = Paths.get(root, "_txn_log")
  private[sources] def deltaDir(root: String): Path = Paths.get(root, "_delta_log")

  /** Files.list with DETERMINISTIC close: the JDK stream holds an open
    * directory fd until closed, and GC-lazy reclamation let a long test
    * suite hit EMFILE (error=24) — every directory listing in this module
    * therefore materializes eagerly and closes before returning. Log/data
    * directories are O(files) small; the eager Seq is never the cost. */
  private[sources] def listClosed(d: Path): java.util.stream.Stream[Path] = {
    val s = java.nio.file.Files.list(d)
    try {
      val all = s.iterator().asScala.toVector
      java.util.Arrays.stream(all.toArray)
    } finally s.close()
  }

  /** Files.walk with deterministic close — see [[listClosed]]. */
  private[sources] def walkClosed(d: Path): java.util.stream.Stream[Path] = {
    val s = java.nio.file.Files.walk(d)
    try {
      val all = s.iterator().asScala.toVector
      java.util.Arrays.stream(all.toArray)
    } finally s.close()
  }

  /** Resolve a log file entry against the table root. Entries are
    * normally root-relative; a SHALLOW CLONE's version 0 re-adds the
    * source's files by ABSOLUTE path (the Delta clone shape), which
    * resolves as itself. */
  private[sources] def filePath(root: String, f: String): Path = {
    val p = Paths.get(f)
    if (p.isAbsolute) p else Paths.get(root, f)
  }

  private[sources] def versions(root: String): Seq[Long] = {
    val d = logDir(root)
    if (!Files.isDirectory(d)) Seq.empty
    else listClosed(d).iterator().asScala
      .map(_.getFileName.toString).filter(_.endsWith(".json"))
      .map(_.stripSuffix(".json").toLong).toSeq.sorted
  }

  /** Latest committed version, −1 for an empty/new table. */
  def latestVersion(root: String): Long = versions(root).lastOption.getOrElse(-1L)

  private[sources] def esc(s: String): String =
    s.flatMap { case '"' => "\\\""; case '\\' => "\\\\"; case c => c.toString }

  /** Write one commit atomically: actions → tmp json → rename into place.
    * After the `_txn_log` rename lands (the commit point), the same commit
    * is mirrored as a public Delta-protocol `_delta_log/<v>.json` entry —
    * see [[deltaCommit]]. */
  /** One add action as a log line. stats/partitionValues/bloom ride
    * base64-encoded so nested-JSON quoting never leaks into the line
    * grammar; the `_delta_log` mirror carries the same payloads in the
    * protocol's native form. Shared by [[commit]] and the `_txn_log`
    * checkpoint writer, so a checkpointed add re-parses identically. */
  private[sources] def addLine(version: Long, op: String, a: AddFile): String = {
    def b64(s: String): String =
      java.util.Base64.getEncoder.encodeToString(s.getBytes(UTF_8))
    val partJson = a.partitionValues.toSeq.sortBy(_._1)
      .map { case (k, v) =>
        s""""${MiniJson.escape(k)}":"${MiniJson.escape(v)}"""" }
      .mkString("{", ",", "}")
    val stField = a.stats.map(j => s""","stats64":"${b64(j)}"""").getOrElse("")
    val pField = if (a.partitionValues.isEmpty) ""
      else s""","part64":"${b64(partJson)}""""
    val bField = a.bloom.map(j => s""","bloom64":"${b64(j)}"""").getOrElse("")
    val dField = a.dv.map(d => s""","dv64":"${b64(dvJson(d))}"""").getOrElse("")
    val rField = a.baseRowId.map(r => s""","baseRowId":$r""").getOrElse("")
    s"""{"version":$version,"op":"${esc(op)}","action":"add","file":"${esc(a.file)}","bytes":${a.bytes}$stField$pField$bField$dField$rField}"""
  }

  /** Spec-shaped deletionVector descriptor JSON (identical bytes in the
    * internal log's dv64 payload and the `_delta_log` mirror). */
  private[sources] def dvJson(d: DeletionVectors.DvDescriptor): String =
    s"""{"storageType":"${esc(d.storageType)}","pathOrInlineDv":"${esc(d.pathOrInlineDv)}","offset":${d.offset},"sizeInBytes":${d.sizeInBytes},"cardinality":${d.cardinality}}"""

  private[sources] def parseDvJson(j: String): DeletionVectors.DvDescriptor = {
    val m = MiniJson.parse(j).asInstanceOf[Map[String, Any]]
    DeletionVectors.DvDescriptor(
      m("storageType").asInstanceOf[String],
      m("pathOrInlineDv").asInstanceOf[String],
      m.get("offset").map(_.asInstanceOf[BigDecimal].toIntExact).getOrElse(0),
      m("sizeInBytes").asInstanceOf[BigDecimal].toIntExact,
      m("cardinality").asInstanceOf[BigDecimal].toLongExact)
  }

  private[sources] def commit(root: String, version: Long, op: String,
                     adds: Seq[AddFile], removes: Seq[String],
                     schemaJson: Option[String] = None,
                     dataChange: Boolean = true,
                     txn: Option[(String, Long)] = None,
                     partCols: Seq[String] = Nil,
                     cdc: Seq[AddFile] = Nil,
                     extraConfig: Option[Map[String, String]] = None,
                     removeDvs: Map[String, DeletionVectors.DvDescriptor] = Map.empty): Unit = {
    Files.createDirectories(logDir(root))
    // ROW TRACKING: when enabled (possibly by THIS commit's extraConfig),
    // every not-yet-stamped add gets a fresh baseRowId block off the
    // folded high-water mark, and the commit records the advanced mark.
    // Re-adds (DV commits, restore, clone) arrive pre-stamped and keep
    // their ids — that is the stability contract.
    val effCfg = extraConfig.getOrElse(readTableConfig(root))
    val (stamped, hwmOpt) =
      if (adds.isEmpty || !effCfg.get("delta.enableRowTracking").contains("true"))
        (adds, None)
      else {
        val prior = foldState(root, version - 1).hwm
        // pre-stamped adds (re-adds, a CLONE's inherited ids) first raise
        // the mark — fresh blocks must never collide with ids that arrived
        // stamped from a log this table's own hwm lines never covered
        val preMax = adds.flatMap(a => a.baseRowId.map(_ +
          math.max(a.stats.map(decodeStats(_).numRecords).getOrElse(0L), 1L)))
          .maxOption.getOrElse(0L)
        var hwm = math.max(prior, preMax)
        val out = adds.map { a =>
          if (a.baseRowId.isDefined) a
          else {
            val n = a.stats.map(decodeStats(_).numRecords).getOrElse(sys.error(
              s"row tracking needs per-file stats; ${a.file} has none"))
            val s = a.copy(baseRowId = Some(hwm)); hwm += math.max(n, 1L); s
          }
        }
        (out, if (hwm > prior) Some(hwm) else None)
      }
    // removes BEFORE adds (the mirror's order too): a merge-on-read commit
    // removes and re-adds the SAME path (new deletion vector), and the
    // line-ordered fold must land on the re-add. A remove of a DV-carrying
    // instance names the descriptor it tombstones — strict protocol
    // readers reconcile adds/removes by (path, dvId), not path alone.
    val lines =
      removes.map { f =>
        val dField = removeDvs.get(f)
          .map(d => s""","dv64":"${java.util.Base64.getEncoder.encodeToString(dvJson(d).getBytes(UTF_8))}"""")
          .getOrElse("")
        s"""{"version":$version,"op":"${esc(op)}","action":"remove","file":"${esc(f)}","bytes":0$dField}"""
      } ++ stamped.map(addLine(version, op, _)) ++ cdc.map { a =>
        s"""{"version":$version,"op":"${esc(op)}","action":"cdc","file":"${esc(a.file)}","bytes":${a.bytes}}"""
      } ++ hwmOpt.map(h =>
        s"""{"version":$version,"op":"hwm","action":"hwm","file":"","bytes":$h}""").toSeq
    // version claim is a true compare-and-set behind the [[CommitLock]]
    // seam: the content is fully written to a writer-private tmp file,
    // then atomically published iff the version is unclaimed. The default
    // is a hard link (link(2) fails if the target exists, where rename(2)
    // silently REPLACES — the classic lost-commit race); on S3-class
    // stores `graft.commit.lock=lease` swaps in the conditional-put lease
    // protocol without touching anything above this line.
    val tmp = logDir(root).resolve(
      s".$version-${java.util.UUID.randomUUID().toString.take(8)}.json.tmp")
    Files.write(tmp, lines.mkString("\n").getBytes(UTF_8))
    val dst = logDir(root).resolve(f"$version%020d.json")
    if (!CommitLock.active.claim(dst, tmp))
      throw new ConcurrentCommitException(root, version)
    deltaCommit(root, version, op, stamped, removes, schemaJson, dataChange, txn,
      partCols, cdc, extraConfig, removeDvs, hwmOpt)
    if (version > 0 && version % CheckpointInterval == 0)
      writeTxnCheckpoint(root, version)
  }

  // ---- _txn_log checkpoints -------------------------------------------------
  // The same O(versions) critique the Delta mirror faced applies to this
  // module's OWN fold: without a checkpoint, every snapshot read parses
  // every commit file since version 0 — at 100k commits the log, not the
  // data, becomes the read bottleneck. Every CheckpointInterval commits
  // the winner writes `<v>.ckpt`: the full fold state at v (live adds
  // with their stats/bloom payloads, the idempotent-append token ledger,
  // the current schema + partition columns), so any read at asOf ≥ some
  // checkpoint folds ONE checkpoint + the tail. Older time travel still
  // folds from the nearest earlier checkpoint (or 0). Checkpoints are
  // derived state — deleting one only slows reads, never changes them.

  private[sources] def ckptPath(root: String, v: Long): Path =
    logDir(root).resolve(f"$v%020d.ckpt")

  private[sources] def ckptVersions(root: String): Seq[Long] = {
    val d = logDir(root)
    if (!Files.isDirectory(d)) Seq.empty
    else listClosed(d).iterator().asScala
      .map(_.getFileName.toString).filter(_.endsWith(".ckpt"))
      .map(_.stripSuffix(".ckpt").toLong).toSeq.sorted
  }

  /** Ops carrying an idempotence token in the dedup ledger: tagged
    * appends ([[appendOnce]]) and tagged merges ([[mergeDvOnce]]). */
  private[sources] def tokenOp(op: String): Boolean =
    op.startsWith("append#") || op.startsWith("merge-dv#")

  /** The complete fold at one version: live adds, the idempotence-token
    * ledger, and the row-id high-water mark (next fresh row id; 0 when
    * row tracking never assigned any). */
  private[sources] final case class FoldedState(live: Seq[AddFile],
                                       tokens: Map[String, Long], hwm: Long)

  /** Fold state at `upTo` — seeds from the newest checkpoint ≤ upTo, then
    * folds only the tail. `hwm` lines ride `bytes` (a file-less marker
    * action, like token lines): the high-water mark must survive
    * [[expireLog]] and vacuumed history, or freed ids would be REUSED and
    * break row-id stability — so it folds as a max, never recomputed from
    * the (possibly truncated) add set. */
  private[sources] def foldState(root: String, upTo: Long): FoldedState = {
    val ck = ckptVersions(root).filter(_ <= upTo).lastOption
    val live = scala.collection.mutable.LinkedHashMap.empty[String, AddFile]
    val tokens = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    var hwm = 0L
    ck.foreach { v =>
      Files.readAllLines(ckptPath(root, v)).asScala.foreach { line =>
        val m = MiniJson.parse(line).asInstanceOf[Map[String, Any]]
        m("action").asInstanceOf[String] match {
          case "add" =>
            val a = parseAddFields(m)
            live(a.file) = a
          case "token" =>
            tokens(m("op").asInstanceOf[String]) =
              m("version").asInstanceOf[BigDecimal].toLongExact
          case "hwm" =>
            hwm = math.max(hwm, m("bytes").asInstanceOf[BigDecimal].toLongExact)
          case _ => () // meta — consumed by readMeta's short-circuit
        }
      }
    }
    versions(root).filter(v => v > ck.getOrElse(-1L) && v <= upTo)
      .foreach { v =>
        parseLog(root, v).foreach {
          case Action(_, op, "add", a) =>
            live(a.file) = a
            if (tokenOp(op)) tokens(op) = v
          case Action(_, op, "remove", a) =>
            live.remove(a.file)
            if (tokenOp(op)) tokens(op) = v
          case Action(_, _, "hwm", a) =>
            hwm = math.max(hwm, a.bytes)
          case _ => ()
        }
      }
    FoldedState(live.values.toSeq, tokens.toMap, hwm)
  }

  /** (checkpoint version used, tail commit files folded) for a read at
    * `asOf` — the observability hook the checkpoint spec gates on. */
  private[graft] def foldReport(root: String, asOf: Long = -1L): (Option[Long], Int) = {
    val upTo = if (asOf < 0) latestVersion(root) else asOf
    val ck = ckptVersions(root).filter(_ <= upTo).lastOption
    (ck, versions(root).count(v => v > ck.getOrElse(-1L) && v <= upTo))
  }

  private[sources] def writeTxnCheckpoint(root: String, version: Long): Unit = {
    val st = foldState(root, version)
    val (live, tokens) = (st.live, st.tokens)
    val metaLine = readMeta(root, version).map { case (schema, pcs) =>
      def b64(s: String) =
        java.util.Base64.getEncoder.encodeToString(s.getBytes(UTF_8))
      val s64 = b64(schema.json)
      val p64 = b64(pcs.map(c => s""""${MiniJson.escape(c)}"""")
        .mkString("[", ",", "]"))
      val c64 = b64(readTableConfig(root).toSeq.sortBy(_._1)
        .map { case (k, v) =>
          s""""${MiniJson.escape(k)}":"${MiniJson.escape(v)}"""" }
        .mkString("{", ",", "}"))
      s"""{"version":$version,"op":"meta","action":"meta","file":"","bytes":0,"schema64":"$s64","parts64":"$p64","config64":"$c64"}"""
    }.toSeq
    val lines = metaLine ++
      live.map(addLine(version, "checkpoint", _)) ++
      tokens.toSeq.sortBy(_._2).map { case (op, v) =>
        s"""{"version":$v,"op":"${esc(op)}","action":"token","file":"","bytes":0}""" } ++
      (if (st.hwm > 0)
        Seq(s"""{"version":$version,"op":"hwm","action":"hwm","file":"","bytes":${st.hwm}}""")
      else Seq.empty)
    val tmp = logDir(root).resolve(
      s".$version-${java.util.UUID.randomUUID().toString.take(8)}.ckpt.tmp")
    Files.write(tmp, lines.mkString("\n").getBytes(UTF_8))
    // derived state: lose the race, keep the winner's (identical) fold —
    // same claim seam as commits, outcome simply ignored
    CommitLock.active.claim(ckptPath(root, version), tmp)
  }

  /** Decode the AddFile fields of a parsed add-action line. */
  private[sources] def parseAddFields(m: Map[String, Any]): AddFile = {
    def b64(k: String): Option[String] = m.get(k).map(s =>
      new String(java.util.Base64.getDecoder.decode(s.asInstanceOf[String]), UTF_8))
    val pvs = b64("part64").map(j =>
      MiniJson.parse(j).asInstanceOf[Map[String, Any]]
        .map { case (k, v) => k -> v.asInstanceOf[String] })
      .getOrElse(Map.empty[String, String])
    AddFile(m("file").asInstanceOf[String],
      m("bytes").asInstanceOf[BigDecimal].toLongExact,
      b64("stats64"), pvs, b64("bloom64"),
      b64("dv64").map(parseDvJson),
      m.get("baseRowId").map(_.asInstanceOf[BigDecimal].toLongExact))
  }
  /** Re-run `body` (which recomputes latest+1 and its snapshot basis each
    * attempt) until its commit wins the version CAS. Orphaned data files a
    * losing attempt wrote are unreferenced by any log entry, invisible to
    * readers, and reclaimed by [[vacuum]] — the same garbage story as the
    * open formats. */
  private[sources] def casRetry[T](what: String)(body: => T): T = {
    var attempts = 0
    while (true) {
      try return body
      catch { case _: ConcurrentCommitException =>
        attempts += 1
        require(attempts < 64, s"$what lost the commit race $attempts times")
      }
    }
    sys.error("unreachable")
  }

  /** Deterministic table id for the Delta metaData action (stable across
    * commits; derived from the table root, not wall-clock). */
  private[sources] def tableId(root: String): String =
    java.util.UUID.nameUUIDFromBytes(("graft-txn:" + root).getBytes(UTF_8)).toString

  /** Mirror a committed version into the OPEN Delta transaction protocol
    * (delta.io PROTOCOL.md): newline-delimited JSON actions in
    * `_delta_log/%020d.json`. Version 0 carries `protocol` (reader 1 /
    * writer 2 — no advanced table features used) and `metaData` with the
    * Spark schema JSON as `schemaString` (the Delta schema serialization IS
    * the Spark StructType JSON shape). Data files stay where [[commit]] put
    * them — `add.path` is root-relative with subdirectories, which the
    * protocol allows. OPTIMIZE commits carry `dataChange:false` so
    * downstream streams skip them; idempotent appends carry the `txn`
    * action with the dedup token as `appId`. Writing the format needs no
    * jar; external readers (delta-spark, DuckDB delta, Trino) fold the
    * same actions this module's `_txn_log` fold uses, so snapshots agree —
    * DeltaLogSpec proves the fold equivalence version by version. */
  private[sources] def deltaCommit(root: String, version: Long, op: String,
                          adds: Seq[AddFile], removes: Seq[String],
                          schemaJson: Option[String], dataChange: Boolean,
                          txn: Option[(String, Long)],
                          partCols: Seq[String] = Nil,
                          cdc: Seq[AddFile] = Nil,
                          extraConfig: Option[Map[String, String]] = None,
                          removeDvs: Map[String, DeletionVectors.DvDescriptor] = Map.empty,
                          hwm: Option[Long] = None): Unit = {
    Files.createDirectories(deltaDir(root))
    // MONOTONIC commit timestamps (Delta's inCommitTimestamp semantics):
    // timestampAsOf time travel scans commitInfo stamps newest-first and
    // early-exits on the first hit — a wall clock that regressed between
    // writers (skew, NTP step) would silently resolve the WRONG version.
    // Stamp max(now, previous + 1): strictly increasing at any commit
    // rate, one tiny prior-file read per commit.
    val now = {
      val wall = System.currentTimeMillis()
      if (version == 0L) wall
      else try math.max(wall, commitTimestamp(root, version - 1) + 1)
      catch { case _: Exception => wall } // prior mirror expired: keep wall
    }
    val pcJson = partCols.map(c => s""""${esc(c)}"""").mkString("[", ",", "]")
    // a metaData action rides version 0, any commit whose schema shape
    // evolved, and any configuration change (constraints) — latest-wins
    // fold on the read side, per the protocol
    val emitMeta = version == 0L || extraConfig.isDefined || schemaJson.exists { j =>
      readMeta(root).exists { case (cur, _) =>
        !sameShape(cur, DataType.fromJson(j).asInstanceOf[StructType]) }
    }
    // configuration survives re-emission: a schema evolution must not drop
    // the table's constraints
    val config = extraConfig.getOrElse(
      if (version == 0L) Map.empty[String, String] else readTableConfig(root))
    val configJson = config.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""${esc(k)}":"${esc(v)}"""" }
      .mkString("{", ",", "}")
    // CHECK constraints require writer feature level 3 (delta.io
    // PROTOCOL.md); the commit that first sets one upgrades the protocol.
    // Deletion vectors are a TABLE FEATURE: reader 3 / writer 7 with
    // explicit readerFeatures/writerFeatures. Feature state is derived
    // from the FOLDED config (already in hand — O(1)): once
    // delta.enableDeletionVectors landed, every later protocol emission
    // keeps the feature lists, so a later constraint commit can never
    // fold-downgrade the protocol below what the DV files require.
    val needsWriter3 = extraConfig.exists(_.keys.exists(_.startsWith("delta.constraints.")))
    val dvActive = adds.exists(_.dv.isDefined) ||
      config.get("delta.enableDeletionVectors").contains("true")
    // name-mode column mapping needs reader 2 / writer 5 (legacy levels);
    // under table features it must be LISTED alongside deletionVectors.
    // typeWidening exists ONLY as a table feature (no legacy level), so a
    // widened table emits the feature protocol even without DVs.
    val mappingActive = config.get("delta.columnMapping.mode").contains("name")
    val wideningActive = config.get("delta.enableTypeWidening").contains("true")
    val genActive = config.get("graft.generatedColumns").exists(_.nonEmpty)
    val rowTrackingActive = config.get("delta.enableRowTracking").contains("true")
    val constraintsActive =
      config.keys.exists(_.startsWith("delta.constraints.")) || needsWriter3
    val featureProtocol = {
      val dvF = if (dvActive) Seq("deletionVectors") else Nil
      val mapF = if (mappingActive) Seq("columnMapping") else Nil
      val wideF = if (wideningActive) Seq("typeWidening") else Nil
      val rf = dvF ++ mapF ++ wideF
      val wf = dvF ++ mapF ++ wideF ++
        (if (constraintsActive) Seq("checkConstraints") else Nil) ++
        (if (genActive) Seq("generatedColumns") else Nil) ++
        // rowTracking + domainMetadata are WRITER features (a reader that
        // ignores baseRowId still reads the rows)
        (if (rowTrackingActive) Seq("rowTracking", "domainMetadata") else Nil)
      def arr(fs: Seq[String]) = fs.map(f => s""""$f"""").mkString("[", ",", "]")
      if (rf.isEmpty)
        s"""{"protocol":{"minReaderVersion":1,"minWriterVersion":7,"writerFeatures":${arr(wf)}}}"""
      else
        s"""{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":${arr(rf)},"writerFeatures":${arr(wf)}}}"""
    }
    // legacy protocol levels are cumulative: mapping 2/5 ⊇ generated 1/4 ⊇
    // constraints 1/3 ⊇ base 1/2 — a commit that activates any of them
    // emits the MAX the folded config requires
    val legacyWriter = Seq(2, if (constraintsActive) 3 else 2,
      if (genActive) 4 else 2, if (mappingActive) 5 else 2).max
    val legacyReader = if (mappingActive) 2 else 1
    val head =
      (if ((dvActive || wideningActive || rowTrackingActive) &&
        (adds.exists(_.dv.isDefined) || needsWriter3 || extraConfig.isDefined))
        Seq(featureProtocol)
      else if (version == 0L)
        Seq(s"""{"protocol":{"minReaderVersion":$legacyReader,"minWriterVersion":$legacyWriter}}""")
      else if (legacyWriter > 2 && extraConfig.isDefined)
        Seq(s"""{"protocol":{"minReaderVersion":$legacyReader,"minWriterVersion":$legacyWriter}}""")
      else if (needsWriter3)
        Seq(s"""{"protocol":{"minReaderVersion":1,"minWriterVersion":3}}""")
      else Seq.empty) ++
      (if (emitMeta) Seq(
        s"""{"metaData":{"id":"${tableId(root)}","format":{"provider":"parquet","options":{}},"schemaString":"${esc(schemaJson.getOrElse(sys.error("first commit must carry a schema")))}","partitionColumns":$pcJson,"configuration":$configJson,"createdTime":$now}}""")
      else Seq.empty) ++
      txn.map { case (app, v) => s"""{"txn":{"appId":"${esc(app)}","version":$v}}""" }.toSeq ++
      Seq(s"""{"commitInfo":{"timestamp":$now,"operation":"${esc(op)}"}}""")
    val lines = head ++
      removes.map { f =>
        val dvF = removeDvs.get(f)
          .map(d => s""","deletionVector":${dvJson(d)}""").getOrElse("")
        s"""{"remove":{"path":"${esc(f)}","deletionTimestamp":$now,"dataChange":$dataChange$dvF}}"""
      } ++
      adds.map { a =>
        val mt = Files.getLastModifiedTime(filePath(root, a.file)).toMillis
        val stField = a.stats.map(j => s""","stats":"${esc(j)}"""").getOrElse("")
        val dvField = a.dv.map(d => s""","deletionVector":${dvJson(d)}""").getOrElse("")
        // row tracking per the protocol: the add's fresh-id base and the
        // version whose commit assigned it
        val rField = a.baseRowId.map(r =>
          s""","baseRowId":$r,"defaultRowCommitVersion":$version""").getOrElse("")
        val pv = a.partitionValues.toSeq.sortBy(_._1)
          .map { case (k, v) => s""""${esc(k)}":"${esc(v)}"""" }
          .mkString("{", ",", "}")
        s"""{"add":{"path":"${esc(a.file)}","partitionValues":$pv,"size":${a.bytes},"modificationTime":$mt,"dataChange":$dataChange$stField$dvField$rField}}"""
      } ++
      // the row-id high-water mark is DOMAIN METADATA per the protocol —
      // the one piece of row-tracking state adds alone cannot carry
      // (vacuumed history must never recycle ids)
      hwm.map(h =>
        s"""{"domainMetadata":{"domain":"delta.rowTracking","configuration":"{\\"rowIdHighWaterMark\\":${h - 1}}","removed":false}}""").toSeq ++
      // change-data files (the protocol's AddCDCFile): CDF readers fold
      // these from the version-range commit JSONs — per the protocol they
      // do NOT enter checkpoints, so writeDeltaCheckpoint skips them
      cdc.map { a =>
        s"""{"cdc":{"path":"${esc(a.file)}","partitionValues":{},"size":${a.bytes},"dataChange":false}}"""
      }
    val tmp = deltaDir(root).resolve(s".$version.json.tmp")
    Files.write(tmp, lines.mkString("\n").getBytes(UTF_8))
    Files.move(tmp, deltaDir(root).resolve(f"$version%020d.json"),
      StandardCopyOption.ATOMIC_MOVE)
    if (version > 0 && version % CheckpointInterval == 0)
      writeDeltaCheckpoint(root, version)
  }

  /** Commits between Delta checkpoint parquet files. */
  private[sources] val CheckpointInterval = 10L

  /** Write a PROTOCOL.md checkpoint: one parquet file holding the complete
    * replay state at `version` (latest protocol + metaData, per-appId txn
    * high-water marks, every live add, current remove tombstones), plus the
    * `_last_checkpoint` pointer. External readers then fold O(1) checkpoint
    * rows + the JSON tail after it instead of every commit since version 0
    * — without this, a 100k-commit table's LOG becomes the read bottleneck.
    * The state is reconstructed by folding the mirror's own JSON (never the
    * private `_txn_log`), so the checkpoint can only contain what an
    * external reader would have computed itself. Checkpoint actions carry
    * `dataChange:false` per the protocol. The pointer is written LAST and
    * atomically: a crash mid-checkpoint leaves the previous pointer intact
    * and readers just fold a longer tail.
    *
    * The fold SEEDS from the newest prior checkpoint parquet (exactly like
    * an external reader would) and replays only the JSON tail after it.
    * Without the seed, the first checkpoint-boundary commit after
    * [[expireLog]] — which deletes the JSONs below the previous checkpoint
    * — would find no protocol/metaData line at all, or worse, silently
    * drop every live add recorded only in the expired JSONs. */
  private[sources] def writeDeltaCheckpoint(root: String, version: Long): Unit = {
    val spark = org.apache.spark.sql.SparkSession.getActiveSession.getOrElse(return)
    val d = deltaDir(root)
    var protocol: Map[String, Any] = null
    var metaData: Map[String, Any] = null
    val txns = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    val adds = scala.collection.mutable.LinkedHashMap.empty[String, Map[String, Any]]
    val tombs = scala.collection.mutable.LinkedHashMap.empty[String, Map[String, Any]]
    // latest-wins per domain (the protocol's domainMetadata fold rule)
    val domains = scala.collection.mutable.LinkedHashMap.empty[String, Map[String, Any]]
    // -- seed from the newest prior checkpoint, if any ---------------------
    val priorCp = listClosed(d).iterator().asScala
      .map(_.getFileName.toString).filter(_.endsWith(".checkpoint.parquet"))
      .map(_.stripSuffix(".checkpoint.parquet").toLong).filter(_ < version)
      .maxOption
    priorCp.foreach { cv =>
      def bd(l: Any): Any = l match {
        case l: java.lang.Long    => BigDecimal(l.longValue)
        case i: java.lang.Integer => BigDecimal(i.intValue)
        case _                    => null
      }
      def noNull(m: Map[String, Any]): Map[String, Any] =
        m.filter(_._2 != null)
      spark.read.parquet(d.resolve(f"$cv%020d.checkpoint.parquet").toString)
        .collect().foreach { r =>
          def optField(row: org.apache.spark.sql.Row, name: String): Option[Any] =
            if (row.schema != null && row.schema.fieldNames.contains(name) &&
              !row.isNullAt(row.fieldIndex(name)))
              Some(row.get(row.fieldIndex(name)))
            else None
          if (!r.isNullAt(r.fieldIndex("protocol"))) {
            val p = r.getStruct(r.fieldIndex("protocol"))
            protocol = Map(
              "minReaderVersion" -> bd(p.get(0)),
              "minWriterVersion" -> bd(p.get(1))) ++
              optField(p, "readerFeatures").map(f =>
                "readerFeatures" -> (f.asInstanceOf[scala.collection.Seq[String]]
                  .toSeq.map(x => x: Any): Any)) ++
              optField(p, "writerFeatures").map(f =>
                "writerFeatures" -> (f.asInstanceOf[scala.collection.Seq[String]]
                  .toSeq.map(x => x: Any): Any))
          }
          if (!r.isNullAt(r.fieldIndex("metaData"))) {
            val m = r.getStruct(r.fieldIndex("metaData"))
            metaData = noNull(Map(
              "id" -> m.get(0), "name" -> m.get(1), "description" -> m.get(2),
              "schemaString" -> m.get(4),
              "partitionColumns" ->
                (if (m.isNullAt(5)) null else m.getSeq[String](5).toSeq),
              "configuration" ->
                (if (m.isNullAt(6)) null else m.getMap[String, String](6).toMap),
              "createdTime" -> bd(m.get(7))))
          }
          if (!r.isNullAt(r.fieldIndex("txn"))) {
            val t = r.getStruct(r.fieldIndex("txn"))
            txns(t.getString(0)) = t.getLong(1)
          }
          if (!r.isNullAt(r.fieldIndex("add"))) {
            val a = r.getStruct(r.fieldIndex("add"))
            val dvSeed = optField(a, "deletionVector").map { d0 =>
              val d = d0.asInstanceOf[org.apache.spark.sql.Row]
              "deletionVector" -> (Map(
                "storageType" -> d.getString(0),
                "pathOrInlineDv" -> d.getString(1),
                "sizeInBytes" -> bd(d.get(3)),
                "cardinality" -> bd(d.get(4))) ++
                (if (d.isNullAt(2)) Map.empty[String, Any]
                 else Map("offset" -> bd(d.get(2)))): Any)
            }
            adds(a.getString(0)) = noNull(Map(
              "path" -> a.getString(0),
              "partitionValues" ->
                (if (a.isNullAt(1)) Map.empty[String, Any]
                 else a.getMap[String, String](1).toMap),
              "size" -> bd(a.get(2)), "modificationTime" -> bd(a.get(3)),
              "stats" -> a.get(5)) ++ dvSeed ++
              optField(a, "baseRowId").map("baseRowId" -> bd(_)) ++
              optField(a, "defaultRowCommitVersion")
                .map("defaultRowCommitVersion" -> bd(_)))
          }
          if (r.schema.fieldNames.contains("domainMetadata") &&
            !r.isNullAt(r.fieldIndex("domainMetadata"))) {
            val dm = r.getStruct(r.fieldIndex("domainMetadata"))
            domains(dm.getString(0)) = Map(
              "domain" -> dm.getString(0),
              "configuration" -> dm.getString(1),
              "removed" -> dm.getBoolean(2))
          }
          if (!r.isNullAt(r.fieldIndex("remove"))) {
            val t = r.getStruct(r.fieldIndex("remove"))
            val path = t.getString(0)
            adds.remove(path)
            // the tombstone's deletionVector (the instance it superseded)
            // must survive the seed: strict readers reconcile by (path,
            // dvId) and a dropped descriptor would break that after
            // expireLog removes the JSON that carried it
            val dvSeed = optField(t, "deletionVector").map { d0 =>
              val d = d0.asInstanceOf[org.apache.spark.sql.Row]
              "deletionVector" -> (Map(
                "storageType" -> d.getString(0),
                "pathOrInlineDv" -> d.getString(1),
                "sizeInBytes" -> bd(d.get(3)),
                "cardinality" -> bd(d.get(4))) ++
                (if (d.isNullAt(2)) Map.empty[String, Any]
                 else Map("offset" -> bd(d.get(2)))): Any)
            }
            tombs(path) = noNull(Map(
              "path" -> path, "deletionTimestamp" -> bd(t.get(1))) ++ dvSeed)
          }
        }
    }
    // -- fold only the JSON tail after the seed ----------------------------
    val vs = listClosed(d).iterator().asScala
      .map(_.getFileName.toString).filter(_.endsWith(".json"))
      .map(_.stripSuffix(".json").toLong)
      .filter(v => v <= version && v > priorCp.getOrElse(-1L)).toSeq.sorted
    vs.foreach { v =>
      Files.readAllLines(d.resolve(f"$v%020d.json")).asScala.foreach { line =>
        val m = MiniJson.parse(line).asInstanceOf[Map[String, Any]]
        m.get("protocol").foreach(p => protocol = p.asInstanceOf[Map[String, Any]])
        m.get("metaData").foreach(p => metaData = p.asInstanceOf[Map[String, Any]])
        m.get("txn").foreach { p => val t = p.asInstanceOf[Map[String, Any]]
          txns(t("appId").asInstanceOf[String]) =
            t("version").asInstanceOf[BigDecimal].toLongExact }
        m.get("add").foreach { p => val a = p.asInstanceOf[Map[String, Any]]
          val path = a("path").asInstanceOf[String]
          adds(path) = a; tombs.remove(path) }
        m.get("remove").foreach { p => val r = p.asInstanceOf[Map[String, Any]]
          val path = r("path").asInstanceOf[String]
          adds.remove(path); tombs(path) = r }
        m.get("domainMetadata").foreach { p =>
          val dm = p.asInstanceOf[Map[String, Any]]
          domains(dm("domain").asInstanceOf[String]) = dm }
      }
    }
    import org.apache.spark.sql.Row
    def lng(m: Map[String, Any], k: String): java.lang.Long =
      m.get(k).map(v => java.lang.Long.valueOf(
        v.asInstanceOf[BigDecimal].toLongExact)).orNull
    def str(m: Map[String, Any], k: String): String =
      m.get(k).map(_.asInstanceOf[String]).orNull
    def strSeq(m: Map[String, Any], k: String): Seq[String] =
      m.get(k).map(_.asInstanceOf[Seq[Any]].map(_.asInstanceOf[String])).orNull
    def dvRow(m: Map[String, Any]): Row =
      m.get("deletionVector").map { d0 =>
        val d = d0.asInstanceOf[Map[String, Any]]
        Row(str(d, "storageType"), str(d, "pathOrInlineDv"),
          d.get("offset").map(x =>
            Integer.valueOf(x.asInstanceOf[BigDecimal].toIntExact)).orNull,
          Integer.valueOf(d("sizeInBytes").asInstanceOf[BigDecimal].toIntExact),
          java.lang.Long.valueOf(d("cardinality").asInstanceOf[BigDecimal].toLongExact))
      }.orNull
    val rows: Seq[Row] =
      Seq(Row(null, null, null, null,
        Row(Integer.valueOf(protocol("minReaderVersion").asInstanceOf[BigDecimal].toIntExact),
            Integer.valueOf(protocol("minWriterVersion").asInstanceOf[BigDecimal].toIntExact),
            strSeq(protocol, "readerFeatures"),
            strSeq(protocol, "writerFeatures")), null)) ++
      Seq(Row(null, null, null,
        Row(str(metaData, "id"), str(metaData, "name"), str(metaData, "description"),
          Row("parquet", Map.empty[String, String]),
          str(metaData, "schemaString"),
          metaData.getOrElse("partitionColumns", Seq.empty).asInstanceOf[Seq[Any]]
            .map(_.asInstanceOf[String]),
          // the real configuration (delta.constraints.* etc.) must survive
          // into the checkpoint — after expireLog removes the
          // metaData-bearing JSONs it is the only copy an external reader
          // ever sees
          metaData.getOrElse("configuration", Map.empty)
            .asInstanceOf[Map[String, Any]]
            .map { case (k, v) => k -> v.asInstanceOf[String] },
          lng(metaData, "createdTime")),
        null, null)) ++
      txns.toSeq.map { case (app, v) =>
        Row(Row(app, java.lang.Long.valueOf(v), null), null, null, null, null, null) } ++
      adds.values.toSeq.map { a =>
        Row(null,
          Row(str(a, "path"),
            a.getOrElse("partitionValues", Map.empty).asInstanceOf[Map[String, Any]]
              .map { case (k, v) => k -> v.asInstanceOf[String] },
            lng(a, "size"), lng(a, "modificationTime"),
            java.lang.Boolean.FALSE, str(a, "stats"), dvRow(a),
            lng(a, "baseRowId"), lng(a, "defaultRowCommitVersion")),
          null, null, null, null) } ++
      tombs.values.toSeq.map { r =>
        Row(null, null,
          Row(str(r, "path"), lng(r, "deletionTimestamp"), java.lang.Boolean.FALSE,
            dvRow(r)),
          null, null, null) } ++
      domains.values.toSeq.map { dm =>
        Row(null, null, null, null, null,
          Row(dm("domain").asInstanceOf[String],
            dm("configuration").asInstanceOf[String],
            java.lang.Boolean.valueOf(
              dm.get("removed").exists(_ == true)))) }
    val cpSchema = StructType(Seq(
      StructField("txn", StructType(Seq(
        StructField("appId", StringType), StructField("version", LongType),
        StructField("lastUpdated", LongType)))),
      StructField("add", StructType(Seq(
        StructField("path", StringType),
        StructField("partitionValues", MapType(StringType, StringType)),
        StructField("size", LongType),
        StructField("modificationTime", LongType),
        StructField("dataChange", BooleanType),
        StructField("stats", StringType),
        StructField("deletionVector", StructType(Seq(
          StructField("storageType", StringType),
          StructField("pathOrInlineDv", StringType),
          StructField("offset", IntegerType),
          StructField("sizeInBytes", IntegerType),
          StructField("cardinality", LongType)))),
        StructField("baseRowId", LongType),
        StructField("defaultRowCommitVersion", LongType)))),
      StructField("remove", StructType(Seq(
        StructField("path", StringType),
        StructField("deletionTimestamp", LongType),
        StructField("dataChange", BooleanType),
        StructField("deletionVector", StructType(Seq(
          StructField("storageType", StringType),
          StructField("pathOrInlineDv", StringType),
          StructField("offset", IntegerType),
          StructField("sizeInBytes", IntegerType),
          StructField("cardinality", LongType))))))),
      StructField("metaData", StructType(Seq(
        StructField("id", StringType),
        StructField("name", StringType),
        StructField("description", StringType),
        StructField("format", StructType(Seq(
          StructField("provider", StringType),
          StructField("options", MapType(StringType, StringType))))),
        StructField("schemaString", StringType),
        StructField("partitionColumns", ArrayType(StringType)),
        StructField("configuration", MapType(StringType, StringType)),
        StructField("createdTime", LongType)))),
      StructField("protocol", StructType(Seq(
        StructField("minReaderVersion", IntegerType),
        StructField("minWriterVersion", IntegerType),
        StructField("readerFeatures", ArrayType(StringType)),
        StructField("writerFeatures", ArrayType(StringType))))),
      StructField("domainMetadata", StructType(Seq(
        StructField("domain", StringType),
        StructField("configuration", StringType),
        StructField("removed", BooleanType))))))
    val tmpDir = d.resolve(s".cp-$version")
    spark.createDataFrame(rows.asJava, cpSchema).coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(tmpDir.toString)
    val part = listClosed(tmpDir).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet"))
      .getOrElse(sys.error("checkpoint write produced no parquet part"))
    Files.move(part, d.resolve(f"$version%020d.checkpoint.parquet"),
      StandardCopyOption.ATOMIC_MOVE)
    walkClosed(tmpDir).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
    val ptrTmp = d.resolve(s"._last_checkpoint.tmp")
    Files.write(ptrTmp,
      s"""{"version":$version,"size":${rows.size}}""".getBytes(UTF_8))
    Files.move(ptrTmp, d.resolve("_last_checkpoint"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  private[sources] def statsEligible(dt: DataType): Boolean = dt match {
    case _: NumericType | StringType | BooleanType => true
    // temporal mins/maxes persist in their INTERNAL unit (epoch days /
    // epoch micros) as plain numbers, so the one BigDecimal conjunct
    // engine prunes them against Literal(TimestampType).value (micros) /
    // Literal(DateType).value (days) with no new compare path
    case DateType | TimestampType | TimestampNTZType => true
    case _ => false
  }

  /** JSON-encode one stat value (String | Boolean | BigDecimal | null). */
  private[sources] def statJson(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + MiniJson.escape(s) + "\""
    case b: Boolean => b.toString
    case d: java.math.BigDecimal => d.toPlainString
    case n => n.toString
  }

  /** Three-way compare in stat-value space (both sides String | Boolean |
    * java.math.BigDecimal); strings in UTF8 binary order. */
  private[sources] def statOrd(a: Any, b: Any): Int = (a, b) match {
    case (x: java.math.BigDecimal, y: java.math.BigDecimal) => x.compareTo(y)
    case (x: String, y: String) =>
      UTF8String.fromString(x).compareTo(UTF8String.fromString(y))
    case (x: java.lang.Boolean, y: java.lang.Boolean) => x.compareTo(y)
    case _ => sys.error(s"incomparable stats $a / $b")
  }

  /** Per-file column stats straight from the parquet FOOTER — O(footer)
    * driver metadata I/O, no Spark job, which is what keeps every commit's
    * stats cost proportional to file COUNT, not data size, at 100 TB.
    * Parquet chunk statistics are bounds by contract (binary truncation
    * rounds min down and max up), and bounds are exactly what pruning
    * needs. A column any row group lacks stats for is left out (= never
    * pruned on); numRecords is always exact. */
  private[sources] def footerStats(p: Path, schema: StructType): String = {
    val rd = GroupDecode.openParquet(new org.apache.hadoop.fs.Path(p.toUri),
      GroupDecode.freshConf())
    try {
      val blocks = rd.getFooter.getBlocks.asScala.toSeq
      val numRecords = blocks.map(_.getRowCount).sum
      val mins = Map.newBuilder[String, Any]
      val maxs = Map.newBuilder[String, Any]
      val nulls = Map.newBuilder[String, Long]
      for (f <- schema.fields if statsEligible(f.dataType)) {
        val chunks = blocks.map(b =>
          b.getColumns.asScala.find(_.getPath.toDotString == f.name))
        if (chunks.nonEmpty && chunks.forall(_.isDefined)) {
          val sts = chunks.flatten.map(_.getStatistics)
          if (sts.forall(s => s != null && s.isNumNullsSet)) {
            val nullTotal = sts.map(_.getNumNulls).sum
            nulls += f.name -> nullTotal
            val valued = sts.filter(_.hasNonNullValue)
            val allNullChunksProven = // chunks without values are all-null
              sts.zip(blocks).forall { case (s, b) =>
                s.hasNonNullValue || s.getNumNulls == b.getRowCount }
            if (valued.isEmpty && nullTotal == numRecords) {
              mins += f.name -> null; maxs += f.name -> null
            } else if (valued.nonEmpty && allNullChunksProven) {
              val vs = valued.map(s => (statValue(f.dataType, s.`type`(), s.genericGetMin),
                statValue(f.dataType, s.`type`(), s.genericGetMax)))
              if (vs.forall { case (a, b) => a != null && b != null }) {
                mins += f.name -> vs.map(_._1).reduce((a, b) => if (statOrd(a, b) <= 0) a else b)
                maxs += f.name -> vs.map(_._2).reduce((a, b) => if (statOrd(a, b) >= 0) a else b)
              }
            }
          }
        }
      }
      def obj(m: Map[String, Any]) = m.toSeq.sortBy(_._1)
        .map { case (k, v) => s""""${MiniJson.escape(k)}":${statJson(v)}""" }
        .mkString("{", ",", "}")
      s"""{"numRecords":$numRecords,"minValues":${obj(mins.result())},""" +
        s""""maxValues":${obj(maxs.result())},""" +
        s""""nullCount":${obj(nulls.result().map { case (k, v) =>
          k -> (java.math.BigDecimal.valueOf(v): Any) })}}"""
    } finally rd.close()
  }

  /** Decode a footer min/max into stat-value space for the Spark type;
    * null = undecodable (NaN, INT96, unexpected physical type) → drop the
    * column. Temporal values normalize to their Spark-internal unit
    * (days / micros) so predicate literals compare directly. */
  private[sources] def statValue(dt: DataType,
                                 prim: org.apache.parquet.schema.PrimitiveType,
                                 v: Any): Any = (dt, v) match {
    case (DateType, i: java.lang.Integer) =>
      java.math.BigDecimal.valueOf(i.longValue)
    case (TimestampType | TimestampNTZType, l: java.lang.Long) =>
      import org.apache.parquet.schema.LogicalTypeAnnotation
      prim.getLogicalTypeAnnotation match {
        case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
          t.getUnit match {
            case LogicalTypeAnnotation.TimeUnit.MILLIS =>
              java.math.BigDecimal.valueOf(l.longValue).scaleByPowerOfTen(3)
            case LogicalTypeAnnotation.TimeUnit.MICROS =>
              java.math.BigDecimal.valueOf(l.longValue)
            case LogicalTypeAnnotation.TimeUnit.NANOS =>
              // bounds must bracket: floor the min... a single value can't
              // know which side it is; integer-divide is exact enough ONLY
              // when it brackets both ways, so keep full nano precision
              new java.math.BigDecimal(java.math.BigInteger.valueOf(l.longValue),
                3) // nanos/1000 with exact decimal scale — still micros
          }
        case _ => java.math.BigDecimal.valueOf(l.longValue)
      }
    // INT96 timestamps: parquet marks their stats unreliable; Binary here
    // falls through to the catch-all null below
    case _ => statValueBase(dt, v)
  }

  private def statValueBase(dt: DataType, v: Any): Any = (dt, v) match {
    case (StringType, b: org.apache.parquet.io.api.Binary) => b.toStringUsingUTF8
    case (BooleanType, b: java.lang.Boolean) => b
    case (d: DecimalType, i: java.lang.Integer) =>
      java.math.BigDecimal.valueOf(i.longValue, d.scale)
    case (d: DecimalType, l: java.lang.Long) =>
      java.math.BigDecimal.valueOf(l.longValue, d.scale)
    case (d: DecimalType, b: org.apache.parquet.io.api.Binary) =>
      new java.math.BigDecimal(new java.math.BigInteger(b.getBytes), d.scale)
    case (FloatType, f: java.lang.Float) =>
      if (f.isNaN || f.isInfinite) null else new java.math.BigDecimal(f.toString)
    case (DoubleType, dd: java.lang.Double) =>
      if (dd.isNaN || dd.isInfinite) null else new java.math.BigDecimal(dd.toString)
    case (_: NumericType, n: Number) => new java.math.BigDecimal(n.toString)
    case _ => null
  }

  /** Writer-private data directory: named for the version the writer was
    * AIMING at plus a random tag, so concurrent writers never collide on a
    * path and a commit that loses the version CAS can rebase and point its
    * log entry at the files it already wrote. Files only become visible
    * through a committed log entry; never-committed ones are orphans that
    * [[vacuum]] sweeps. */
  private[sources] def dataSub(version: Long): String =
    s"data/v$version-${java.util.UUID.randomUUID().toString.take(8)}"

  /** TxnTable DATA files write timestamps as INT64 micros even under the
    * session default (INT96): INT96 is deprecated parquet, costs 50%
    * more bytes per value, and — decisive here — carries NO usable footer
    * statistics, so a timestamp predicate could never skip files. Scoped
    * to the write (set/restore around the job) so a session's OTHER
    * parquet output keeps whatever encoding its consumers expect. A
    * concurrent writer racing the restore window at worst writes INT96 —
    * correctness is unaffected (the readers decode both), only that
    * file's skipping potential is lost. */
  private[sources] def withMicrosTimestamps[T](df: DataFrame)(body: => T): T = {
    val hasTs = df.schema.fields.exists(_.dataType == TimestampType)
    val k = "spark.sql.parquet.outputTimestampType"
    val conf = df.sparkSession.conf
    val prev = conf.get(k)
    if (!hasTs || prev == "TIMESTAMP_MICROS") body
    else {
      conf.set(k, "TIMESTAMP_MICROS")
      try body finally conf.set(k, prev)
    }
  }

  /** Write per-commit CHANGE-DATA files (table columns + `_change_type`)
    * under `cdc/v<version>-<tag>` — the persisted row-level diff an
    * incremental CDF consumer reads instead of re-diffing snapshots. No
    * stats (never pruned on; read whole by version). */
  private[sources] def writeCdcFiles(df0: DataFrame, root: String, version: Long): Seq[AddFile] = {
    // change files carry the STABLE physical names, exactly like data
    // files — a post-rename cdc file written under the new logical name
    // would read back null through every physical-name-resolving consumer
    // (the txn-tail change feed); readers re-attach the logical names of
    // their own range end. `_change_type` is a feed column, never mapped.
    val mapping = readMeta(root).map(m => colMapping(m._1)).getOrElse(Map.empty)
    val df = if (mapping.isEmpty) df0
      else df0.select(df0.columns.toSeq.map(c =>
        col(c).as(mapping.getOrElse(c, c))): _*)
    val sub = s"cdc/v$version-${java.util.UUID.randomUUID().toString.take(8)}"
    val dst = Paths.get(root, sub)
    df.write.mode(SaveMode.ErrorIfExists).parquet(dst.toString)
    listClosed(dst).iterator().asScala
      .map(_.getFileName.toString)
      .filter(n => n.endsWith(".parquet") && !n.startsWith("."))
      .toSeq.sorted
      .map(n => AddFile(s"$sub/$n", Files.size(dst.resolve(n)), None))
  }

  /** Write `df` under a fresh [[dataSub]] dir; stats come off each file's
    * footer (see [[footerStats]] — no second scan). `check = false` skips
    * CHECK-constraint validation (layout-only rewrites of already-valid
    * rows — OPTIMIZE/ZORDER — must not pay a validation pass). */
  private[sources] def writeDataFiles(df0: DataFrame, root: String, version: Long,
                             check: Boolean = true,
                             mappingOverride: Option[Map[String, String]] = None): Seq[AddFile] = {
    if (check) validateConstraints(df0, root)
    // under column mapping the FILES carry the stable physical names (the
    // logical batch columns rename just before the write); stats therefore
    // key by physical name, matching what pruning translates to.
    // `mappingOverride` carries the POST-evolution mapping when the batch
    // introduces new columns to a mapped table — those must land under
    // their fresh physical names, which the current metadata cannot know.
    val mapping = mappingOverride.getOrElse(
      readMeta(root).map(m => colMapping(m._1)).getOrElse(Map.empty))
    val df = if (mapping.isEmpty) df0
      else df0.select(df0.columns.toSeq.map(c =>
        col(c).as(mapping.getOrElse(c, c))): _*)
    val sub = dataSub(version)
    val dst = Paths.get(root, sub)
    withMicrosTimestamps(df)(
      df.write.mode(SaveMode.ErrorIfExists).parquet(dst.toString))
    val names = listClosed(dst).iterator().asScala
      .map(_.getFileName.toString)
      .filter(n => n.endsWith(".parquet") && !n.startsWith("."))
      .toSeq.sorted
    // footer reads are independent metadata I/O — fan out across the
    // common pool; a commit's stats latency stays O(files / cores)
    val stats = new java.util.concurrent.ConcurrentHashMap[String, String]()
    names.asJava.parallelStream()
      .forEach(n => stats.put(n, footerStats(dst.resolve(n), df.schema)))
    names.map(n => AddFile(s"$sub/$n", Files.size(dst.resolve(n)),
      Some(stats.get(n))))
  }
}
