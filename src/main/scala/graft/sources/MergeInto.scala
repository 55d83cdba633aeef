package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, StructField, StructType}

/** Full MERGE INTO over the commit-log table — the general form of
  * [[LogTable.upsert]]'s fixed latest-wins semantics (the reference's
  * merges are op-column CDC batches, cf.
  * /root/reference/etlutil/data_structures.py:1770; this is the engine's
  * own superset, the ANSI/Delta `MERGE` shape):
  *
  * {{{
  * LogTable.mergeInto(spark, path, source, keyCols = Seq("k"))
  *   .whenMatchedUpdate(Map("cents" -> "s.cents", "version" -> "t.version + 1"),
  *                      condition = Some("s.cents > t.cents"))
  *   .whenMatchedDelete(condition = Some("s.op = 'D'"))
  *   .whenNotMatchedInsert()            // source row, aligned by name
  *   .run()
  * }}}
  *
  * Clause expressions are SQL over two row scopes: `t.` (the target row)
  * and `s.` (the source row). MATCHED clauses evaluate IN ORDER, first
  * true condition wins (condition `None` = always true); a matched pair
  * satisfying no clause keeps the target row unchanged. Unmatched target
  * rows survive unless a `whenNotMatchedBySource*` clause claims them
  * (the sync-from-snapshot form); unmatched source rows insert only
  * through `whenNotMatchedInsert` (default values: the source's
  * same-name column, else NULL; `values` entries override).
  *
  * Contracts, all enforced loud:
  *  - source keys must be UNIQUE — two source rows matching one target
  *    row make the merge ambiguous (the Delta error, not a silent pick);
  *  - the source must physically carry the key AND partition columns
  *    (the pruned-merge contract: a key's partition value is fixed for
  *    life, so the batch's partition tuples name every file that could
  *    hold a matched key);
  *  - updates may not assign key or partition columns (moving a row is
  *    delete + insert);
  *  - a NULL-capable assignment (or insert) widens the committed column
  *    nullable, probed over an INNER-join shell so the full-outer join's
  *    blanket nullability never leaks into the schema.
  *
  * Execution is one log transaction with [[LogTable.upsert]]'s whole
  * machinery: stats-pruned victim files, one full-outer join, one write,
  * one commit; a losing race takes the disjoint-writer fast path when
  * the winners touched only other partitions, else re-runs the merge
  * against the new snapshot (clauses re-evaluate on the winner's state —
  * convergent exactly because the merge IS the conflict resolution).
  */
final case class MergeInto private[sources] (
    spark: SparkSession, path: String, source: DataFrame,
    keyCols: Seq[String],
    matched: Seq[MergeInto.MatchedClause] = Nil,
    insert: Option[MergeInto.InsertClause] = None,
    bySource: Seq[MergeInto.MatchedClause] = Nil,
    maxRetries: Int = 3,
    schemaEvolution: Boolean = false) {
  import MergeInto._

  /** `MERGE WITH SCHEMA EVOLUTION` — source columns absent from the
    * target append (nullable), source columns strictly WIDER widen the
    * committed type, both INSIDE the merge's own commit (atomic: one
    * DDL, one file set, one version — the Delta `WITH SCHEMA
    * EVOLUTION` shape, composing the engine's existing mergeSchema
    * append path with the widening lattice). Old files are never
    * rewritten — schema-on-read NULL-fills. INSERT clauses pick the new
    * columns up automatically (same-name source default); UPDATE
    * clauses assign them explicitly. A concurrent conflicting evolution
    * still serializes: the disjoint-recommit fast path declines on any
    * DDL drift, forcing the full re-merge against the winner's schema.
    */
  def withSchemaEvolution(): MergeInto = copy(schemaEvolution = true)

  def whenMatchedUpdate(set: Map[String, String],
                        condition: Option[String] = None): MergeInto = {
    require(set.nonEmpty, "whenMatchedUpdate needs at least one assignment")
    copy(matched = matched :+ MatchedClause(condition, Some(set)))
  }

  def whenMatchedDelete(condition: Option[String] = None): MergeInto =
    copy(matched = matched :+ MatchedClause(condition, None))

  def whenNotMatchedInsert(values: Map[String, String] = Map.empty,
                           condition: Option[String] = None): MergeInto = {
    require(insert.isEmpty, "only one whenNotMatchedInsert clause")
    copy(insert = Some(InsertClause(condition, values)))
  }

  /** `WHEN NOT MATCHED BY SOURCE THEN UPDATE` — target rows whose key has
    * no source row (the Delta/ANSI sync-from-snapshot form: one merge
    * upserts present keys AND expires departed ones). Clause SQL sees the
    * TARGET scope only (`t.` or bare names); `s.` references are rejected
    * loud — every source column is definitionally NULL here. A by-source
    * clause widens the transaction's READ to the WHOLE table (an
    * unmatched key can live in any partition), so the pruned-victim and
    * disjoint-recommit fast paths are off; the REWRITE is still
    * restricted to files whose rows actually changed (a cheap
    * changed-file pass first — Delta's by-source cost model).
    */
  def whenNotMatchedBySourceUpdate(set: Map[String, String],
                                   condition: Option[String] = None)
      : MergeInto = {
    require(set.nonEmpty,
      "whenNotMatchedBySourceUpdate needs at least one assignment")
    (condition.toSeq ++ set.values).foreach(rejectSourceRefs)
    copy(bySource = bySource :+ MatchedClause(condition, Some(set)))
  }

  /** `WHEN NOT MATCHED BY SOURCE THEN DELETE` — see
    * [[whenNotMatchedBySourceUpdate]].
    */
  def whenNotMatchedBySourceDelete(condition: Option[String] = None)
      : MergeInto = {
    condition.foreach(rejectSourceRefs)
    copy(bySource = bySource :+ MatchedClause(condition, None))
  }

  /** A by-source clause runs where NO source row exists — an `s.`
    * reference there can only ever be NULL, which silently falsifies
    * conditions and NULLs assignments; refuse it at build time (the
    * Delta rule).
    */
  private def rejectSourceRefs(sql: String): Unit = {
    val parsed = spark.sessionState.sqlParser.parseExpression(sql)
    parsed.foreach {
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
          if a.nameParts.length > 1 && a.nameParts.head.equalsIgnoreCase("s") =>
        throw new IllegalArgumentException(
          s"merge into $path: WHEN NOT MATCHED BY SOURCE clause `$sql` " +
            "references the source scope `s.` — no source row exists " +
            "for these target rows")
      case _ => ()
    }
  }

  /** Run the merge; its jobs without a finer label carry `merge`. */
  def run(): Long = LogTable.withDesc(spark, s"merge($path)")(transact())

  private def transact(): Long = {
    require(matched.nonEmpty || insert.isDefined || bySource.nonEmpty,
      s"merge into $path: no clauses — nothing to do")
    val fs = LogTable.fsOf(spark, path)
    // GENERATED partition columns derive from the batch's own source
    // column — materialize them onto the merge source so the pruned-
    // merge contract (partition tuples name every candidate file) holds
    // without the caller hand-deriving; a caller-supplied value is
    // recomputed, never trusted (it prunes victims — drift would lose
    // matches). A pruning merge REQUIRES the generator's source column;
    // a by-source merge reads the whole table and may omit it.
    val snap0 = LogTable.snapshot(spark, path)
    val gens = LogTable.generatorsOf(snap0)
    val source = gens.foldLeft(this.source) { case (s, (gcol, gsql)) =>
      val srcCol = LogTable.generatorSource(spark, snap0.schema, gsql)
      if (s.schema.fieldNames.exists(_.equalsIgnoreCase(srcCol)))
        s.withColumn(gcol, org.apache.spark.sql.functions.expr(gsql))
      else if (bySource.isEmpty)
        throw new IllegalArgumentException(
          s"merge into $path: source must carry `$srcCol` to derive " +
            s"generated partition column `$gcol`")
      else s
    }
    val srcFields = source.schema.fieldNames
    def srcField(n: String): Option[String] =
      srcFields.find(_.equalsIgnoreCase(n))
    keyCols.foreach { c =>
      require(srcField(c).isDefined,
        s"merge into $path: source is missing merge-critical column `$c`")
    }
    // the pruned-merge contract wants the PARTITION columns in the source
    // (the batch's tuples name every file a matched key can live in) —
    // unless a by-source clause already widens the transaction to the
    // whole table; an INSERT clause still needs a value for each
    // partition column (a NULL-partition row would be unfindable)
    LogTable.snapshot(spark, path).partitionCols.foreach { c =>
      val provided = srcField(c).isDefined ||
        insert.exists(_.values.keys.exists(_.equalsIgnoreCase(c)))
      if (bySource.isEmpty)
        require(srcField(c).isDefined,
          s"merge into $path: source is missing merge-critical column `$c`")
      else if (insert.isDefined)
        require(provided,
          s"merge into $path: the INSERT clause needs partition column " +
            s"`$c` (a source column or an explicit value)")
    }
    // the source evaluates at least thrice (ambiguity check, touched
    // tuples, the join itself — more under retry): persist for the
    // transaction's scope so an expensive source query runs ONCE (the
    // scd2Apply discipline, cf. Merge.scala)
    source.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK): Unit
    try {
    // ambiguity check, once: two source rows for one key would make the
    // clause outcome depend on join order — fail loud, the Delta rule
    val dup = source.groupBy(keyCols.map(c => col(quote(c))): _*)
      .count().filter(col("count") > 1).limit(1).count()
    require(dup == 0L,
      s"merge into $path: source has duplicate keys on " +
        s"(${keyCols.mkString(", ")}) — ambiguous merge")
    var attempt = 0
    while (true) {
      val snap = evolveForMerge(LogTable.snapshot(spark, path))
      validate(snap)
      // IDENTITY fill for INSERT clauses: when the declared identity
      // column arrives neither as an explicit value nor as a source
      // column, the source enriches with dense generated values and the
      // insert default picks them up — an inserted row must never carry
      // the alignment NULL (uniqueness would break silently). Supplied
      // values were vetted by validate (GENERATED ALWAYS refuses them).
      // Matched source rows burn their value unused — gaps are allowed.
      val idFill = snap.properties.get(LogTable.IdentityColProp)
        .flatMap(c => snap.schema.fields.find(_.name.equalsIgnoreCase(c)))
        .map(_.name)
        .filter(fn => insert.isDefined &&
          !insert.exists(_.values.keys.exists(_.equalsIgnoreCase(fn))) &&
          !source.schema.fieldNames.exists(_.equalsIgnoreCase(fn)))
      // row tracking fills the same way: inserted rows draw fresh ids
      // from the enriched source, matched rows keep the target's
      val rtFill = Some(LogTable.RowIdCol).filter(fn =>
        LogTable.rowTrackingEnabled(snap.properties) && insert.isDefined &&
          !insert.exists(_.values.keys.exists(_.equalsIgnoreCase(fn))) &&
          !source.schema.fieldNames.exists(_.equalsIgnoreCase(fn)))
      val fills = idFill.toSeq ++ rtFill
      val srcEff = {
        val s1 = idFill.map(fn =>
          LogTable.identityFill(spark, path, snap, source, fn))
          .getOrElse(source)
        rtFill.map(_ => LogTable.rowIdApply(spark, snap, s1)).getOrElse(s1)
      }
      // touched tuples exist for pruning and the disjoint fast path —
      // both off under a by-source clause (and the source may then
      // legitimately lack the partition columns the computation reads)
      val touched =
        if (bySource.nonEmpty) Nil
        else LogTable.touchedTuples(path, snap, source)
      // a by-source clause reaches target rows whose key the source does
      // NOT carry — they can live in any partition, so the transaction
      // READS the whole live file set (exactly Delta's by-source cost
      // model). The REWRITE set is then restricted to the files whose
      // rows actually changed: a cheap first pass (column-pruned to the
      // keys + clause-condition columns) collects the distinct source
      // files of changed rows, and untouched files survive the commit —
      // a routine snapshot-sync touching few rows no longer rewrites
      // (and vacuum-indebts) the entire table.
      val cdcOn = LogTable.cdcEnabled(snap.properties)
      val (victims, result, cdcDf, augCache) =
        if (bySource.isEmpty) {
          // partition-tuple pruning, then KEY-RANGE pruning: a candidate
          // file whose key stats provably miss every source key holds
          // only unmatched target rows — it survives unread and
          // unrewritten (and key-disjoint merges into the same partition
          // stop conflicting: disjoint victim sets admit the fast path)
          val zone = spark.sessionState.conf.sessionLocalTimeZone
          val kr = LogTable.batchKeyRanges(spark, snap, source, keyCols)
          val v = LogTable.victimFiles(snap, touched).filterNot(f =>
            kr.nonEmpty && LogTable.keyRangeDisjoint(snap, f, kr, zone))
          val tagged = taggedJoin(snap,
            LogTable.readFiles(spark, path, snap, v), srcEff)
          if (cdcOn) {
            val aug = cdcAugment(snap, gens, tagged, Nil, fills)
            (v, resultFromAug(aug), Some(cdcFromAug(aug)), Some(aug))
          } else (v, projectResult(snap, tagged, fills), None, None)
        } else {
          val joined = taggedJoin(snap, LogTable.readFilesTagged(
            spark, path, snap, snap.files, "__graft_file"), srcEff)
          // under CDC the whole transaction reads ONE persisted frame:
          // the changed-file collect, the committed rows, and the CDC
          // images all come off the same materialized pre/post values
          val shell =
            if (cdcOn)
              cdcAugment(snap, gens, joined, Seq("__graft_file"), fills)
            else joined
          val changed = shell
            .filter(col("__act") =!= "keep" && col("__act") =!= "drop" &&
              col("__graft_file").isNotNull)
            .select("__graft_file").distinct()
            .collect().map(_.getString(0)).toSet // bounded: ≤ live files
          // row-level CDC comes off the SAME tagged join, independent of
          // the rewrite-restriction below: the changed rows are the
          // changed rows whether the rewrite touches 3 files or all
          val cdc = if (cdcOn) Some(cdcFromAug(shell)) else None
          def resultOf(d: DataFrame): DataFrame =
            if (cdcOn) resultFromAug(d)
            else projectResult(snap, d.drop("__graft_file"), fills)
          if (changed.size > MergeInto.RestrictVictimsMaxFiles) {
            // an IN-list over very many names stops paying for itself —
            // degrade to the classic full rewrite
            (snap.files, resultOf(shell), cdc,
              if (cdcOn) Some(shell) else None)
          } else {
            val keep = shell.filter(col("__graft_file").isNull ||
              col("__graft_file").isin(changed.toSeq: _*))
            // tags are BASE names (substring_index of file_path); a
            // shallow clone's log entries are absolute URIs — match on
            // base names (write names are UUID-unique) or a changed
            // cloned file would never join the victim set while its
            // rewritten rows land in the adds, duplicating rows
            (snap.files.filter(f => changed.contains(
              new org.apache.hadoop.fs.Path(f.name).getName)),
              resultOf(keep), cdc, if (cdcOn) Some(shell) else None)
          }
        }
      // recompute generated columns on the outgoing rows (one spot for
      // both victim strategies — a clause assigning one is overridden;
      // idempotent over the CDC path, whose post-image already carries
      // the regenerated values)
      val outRows = LogTable.materializeGenerated(gens, result)
      LogTable.enforceConstraints(path, snap, outRows)
      val ddl = widenedDdl(snap, fills)
      val (adds, cdcFiles) = try {
        // data-file and CDC-file writes are independent jobs over the
        // persisted tagged join, into disjoint tmp dirs — overlap them
        // (guide §2.6), mirroring the upsert path
        val cdcF = cdcDf.map(df => LogTable.submitOverlapped(spark) {
          LogTable.writeCdcFiles(spark, path, df, snap)
        })
        val a =
          try LogTable.writeDataFiles(spark, path, outRows,
            snap.partitionCols, snap.statsCols, bloomCols = snap.bloomCols,
            colMap = snap.colMap, nestMaps = snap.nestMaps,
            ndvCols = LogTable.ndvColsOf(snap.properties),
            histCols = LogTable.histColsOf(snap.properties),
            // victims + the source's own bytes when knowable: a pure-
            // insert merge (victims empty) of a huge scan-backed source
            // must not fall back to the session floor
            sizeHintBytes = Some(victims.iterator.map(_.bytes).sum +
              LogTable.scanBackedBytes(source).getOrElse(0L)))
          catch { case t: Throwable =>
            cdcF.foreach(f => try f.get() catch { case _: Throwable => () })
            throw t
          }
        val c = cdcF.map(_.get()).getOrElse(Nil)
        (a, c)
      } catch {
        case e: java.util.concurrent.ExecutionException =>
          throw Option(e.getCause).getOrElse(e)
      } finally {
        augCache.foreach(_.unpersist(): Unit)
        LogTable.drainFillCaches()
      }
      try {
        LogTable.commit(spark, path, snap.version + 1, ddl,
          snap.partitionCols, snap.statsCols, adds, victims.map(_.name),
          bloomCols = snap.bloomCols, operation = "MERGE_INTO",
          constraints = snap.constraints, properties = snap.properties,
          cdc = cdcFiles)
        return snap.version + 1
      } catch {
        case e: LogTable.CommitConflictException =>
          // a by-source merge NEVER re-commits blind: even a winner that
          // only appended rows to an untouched partition breaks
          // serializability (re-running after the winner could expire
          // those very rows), so the full re-merge is the only sound path
          (if (bySource.nonEmpty) None
          else LogTable.recommitDisjoint(spark, path, snap, ddl, touched,
            adds, victims.map(_.name).toSet, maxRetries, cdc = cdcFiles,
            operation = "MERGE_INTO",
            keyRanges = () =>
              LogTable.batchKeyRanges(spark, snap, source, keyCols))) match {
            case Some(v) => return v
            case None =>
              adds.foreach(a => fs.delete(
                new org.apache.hadoop.fs.Path(path, a.name), false): Unit)
              cdcFiles.foreach(c => fs.delete(
                LogTable.dataPath(path, c.name), false): Unit)
              attempt += 1
              if (attempt > maxRetries) throw e
          }
      }
    }
    -1L // unreachable
    } finally source.unpersist(): Unit
  }

  // ------------------------------------------------------------ internals

  private def quote(n: String): String = "`" + n.replace("`", "``") + "`"

  private def validate(snap: LogTable.Snapshot): Unit = {
    def known(c: String): Boolean =
      snap.schema.fields.exists(_.name.equalsIgnoreCase(c))
    (matched ++ bySource).flatMap(_.set).foreach { m =>
      // whole-column + leaf-under-it in ONE clause is ambiguous — refuse
      m.keys.foreach { c =>
        m.keys.find(o => o.toLowerCase.startsWith(c.toLowerCase + "."))
          .foreach { o =>
            throw new IllegalArgumentException(
              s"merge into $path: assignments `$c` and `$o` overlap — " +
                "assign the whole column or its fields, not both")
          }
      }
    }
    (matched ++ bySource).flatMap(_.set).flatMap(_.keys).foreach { c =>
      if (c.contains('.')) {
        // a DOTTED key assigns a struct FIELD (updateWhere's vocabulary)
        require(LogTable.resolvePathIn(snap.schema, c).isDefined,
          s"merge into $path: cannot update unknown nested field `$c`")
        // assigning INSIDE a key or partition column re-keys the row
        // just as surely as assigning the whole column — same refusal
        val root = c.substring(0, c.indexOf('.'))
        require(!snap.partitionCols.exists(_.equalsIgnoreCase(root)),
          s"merge into $path: partition column `$root` is immutable under " +
            "the pruned-merge contract — move rows with delete + insert")
        require(!keyCols.exists(_.equalsIgnoreCase(root)),
          s"merge into $path: key column `$root` is immutable in an " +
            "update — re-keying is delete + insert")
      } else {
        require(known(c), s"merge into $path: cannot update unknown column `$c`")
        require(!snap.partitionCols.exists(_.equalsIgnoreCase(c)),
          s"merge into $path: partition column `$c` is immutable under the " +
            "pruned-merge contract — move rows with delete + insert")
        require(!keyCols.exists(_.equalsIgnoreCase(c)),
          s"merge into $path: key column `$c` is immutable in an update — " +
            "re-keying is delete + insert")
      }
    }
    insert.foreach(_.values.keys.foreach { c =>
      require(known(c), s"merge into $path: cannot insert unknown column `$c`")
    })
    // IDENTITY under GENERATED ALWAYS: any clause SUPPLYING a value —
    // an UPDATE/by-source SET (whole column or a dotted path under it),
    // an explicit INSERT value, or the insert default copying a
    // same-name SOURCE column — refuses loud; BY DEFAULT passes
    snap.properties.get(LogTable.IdentityColProp).foreach { c =>
      val assigned = (matched ++ bySource).flatMap(_.set).flatMap(_.keys)
        .exists(k => k.equalsIgnoreCase(c) || (k.contains('.') &&
          k.substring(0, k.indexOf('.')).equalsIgnoreCase(c)))
      val inserted = insert.exists(ic =>
        ic.values.keys.exists(_.equalsIgnoreCase(c)) ||
          source.schema.fieldNames.exists(_.equalsIgnoreCase(c)))
      if (assigned || inserted)
        LogTable.identityRefuseAlways(path, snap.properties, c)
    }
  }

  private def cond(c: Option[String]): Column =
    c.map(x => coalesce(expr(x), lit(false))).getOrElse(lit(true))

  /** `base FULL OUTER JOIN source` with the per-row `__act` tag — the
    * first true clause's verdict for every row, before any filtering
    * (the by-source path reads it twice: once to find the files whose
    * rows changed, once to produce the surviving rows).
    */
  private[sources] def taggedJoin(snap: LogTable.Snapshot, base: DataFrame,
                                  src: DataFrame): DataFrame = {
    val t = base.withColumn("__t_ex", lit(true)).alias("t")
    val s = src.withColumn("__s_ex", lit(true)).alias("s")
    val joinCond = keyCols.map(k =>
      col("t." + quote(k)) === col("s." + quote(k))).reduce(_ && _)
    val joined = t.join(s, joinCond, "full_outer")
    val matchedAct = matched.zipWithIndex.foldRight(lit("keep"): Column) {
      case ((cl, i), acc) =>
        when(cond(cl.condition),
          lit(if (cl.set.isDefined) s"u$i" else "del")).otherwise(acc)
    }
    val insAct = insert
      .map(ic => when(cond(ic.condition), lit("ins")).otherwise(lit("drop")))
      .getOrElse(lit("drop"))
    // target rows the source does not match: first true BY SOURCE clause
    // wins (none defined → always "keep", the classic merge)
    val bySourceAct = bySource.zipWithIndex.foldRight(lit("keep"): Column) {
      case ((cl, i), acc) =>
        when(cond(cl.condition),
          lit(if (cl.set.isDefined) s"b$i" else "del")).otherwise(acc)
    }
    val act = when(col("t.__t_ex").isNotNull && col("s.__s_ex").isNotNull,
        matchedAct)
      .when(col("t.__t_ex").isNotNull, bySourceAct)
      .otherwise(insAct)
    joined.withColumn("__act", act)
  }

  /** The merge's surviving rows: drop deletions and non-inserted source
    * rows, dispatch each target column on `__act`. All codegen-friendly
    * CASE chains — no UDFs, no driver loops.
    */
  private[sources] def projectResult(snap: LogTable.Snapshot,
                                     joined: DataFrame,
                                     fills: Seq[String] = Nil)
      : DataFrame = {
    // one clause's value for field f: a whole-column assignment, or —
    // for DOTTED keys below a struct — the struct rebuilt with exactly
    // that clause's leaves replaced (clauses are act-exclusive per row,
    // so each branch bases on the TARGET's own value; a NULL struct
    // stays NULL, updateWhere's discipline)
    joined.filter(col("__act") =!= "del" && col("__act") =!= "drop")
      .select(outputCols(snap, fills): _*)
  }

  private def rebuild(base: Column, dt: DataType, prefix: String,
                      m: Map[String, String]): Column = dt match {
    case st: StructType if m.keys.exists(k =>
        k.toLowerCase.startsWith(prefix.toLowerCase + ".")) =>
      when(base.isNotNull, struct(st.fields.toIndexedSeq.map { sf =>
        val p = prefix + "." + sf.name
        m.collectFirst { case (k, v) if k.equalsIgnoreCase(p) =>
          expr(v).cast(sf.dataType)
        }.getOrElse(rebuild(base.getField(sf.name), sf.dataType, p, m))
          .as(sf.name)
      }: _*))
    case _ => base
  }

  private def branchValue(f: StructField, m: Map[String, String])
      : Option[Column] =
    m.collectFirst { case (k, v) if k.equalsIgnoreCase(f.name) =>
      expr(v).cast(f.dataType)
    }.orElse {
      if (!m.keys.exists(_.toLowerCase.startsWith(f.name.toLowerCase + ".")))
        None
      // no outer cast: each leaf already cast to its own type, and a
      // struct cast that TIGHTENS nullability (NOT NULL leaves) is
      // refused by the analyzer
      else Some(rebuild(col("t." + quote(f.name)), f.dataType, f.name, m))
    }

  /** One output column per schema field, dispatched on `__act` — shared
    * by [[projectResult]] (the surviving rows) and [[cdcAugment]] (the
    * post-image), so the CDC image can never drift from the rows the
    * merge actually writes.
    */
  private def outputCols(snap: LogTable.Snapshot,
                         fills: Seq[String] = Nil): Seq[Column] =
    snap.schema.fields.toIndexedSeq.map { f =>
      var e: Column = col("t." + quote(f.name))
      matched.zipWithIndex.foreach { case (cl, i) =>
        cl.set.foreach { m =>
          branchValue(f, m).foreach { v =>
            e = when(col("__act") === s"u$i", v).otherwise(e)
          }
        }
      }
      bySource.zipWithIndex.foreach { case (cl, i) =>
        cl.set.foreach { m =>
          branchValue(f, m).foreach { v =>
            e = when(col("__act") === s"b$i", v).otherwise(e)
          }
        }
      }
      insert.foreach { ic => e = when(col("__act") === "ins",
        insertExpr(ic, f.name, f.dataType, fills)).otherwise(e) }
      e.as(f.name)
    }

  /** The tagged join with the pre/post images COMPUTED and PERSISTED
    * (`cdc.enabled` tables): `__pre` is the target row, `__post` the
    * post-clause row with generated columns already recomputed, `__act`
    * the clause tag. The committed rows ([[resultFromAug]]), the CDC
    * images ([[cdcFromAug]]), and by-source's changed-file collect all
    * read THIS cache, so a non-deterministic SET/INSERT expression
    * (current_timestamp, rand) or a non-deterministic source evaluates
    * exactly once and the feed's post-image can never diverge from the
    * rows the merge actually commits — the upsert path's base-persist
    * discipline.
    */
  private def cdcAugment(snap: LogTable.Snapshot, gens: Map[String, String],
                         joined: DataFrame, extraCols: Seq[String],
                         fills: Seq[String]): DataFrame = {
    val fields = snap.schema.fields.toIndexedSeq
    val preS = struct(fields.map(f =>
      col("t." + quote(f.name)).as(f.name)): _*)
    // flat post columns first so the generated-column expressions (which
    // name top-level schema columns) rebind onto the post-clause values
    val flat = joined.select(Seq(preS.as("__pre"), col("__act")) ++
      extraCols.map(col) ++ outputCols(snap, fills): _*)
    LogTable.materializeGenerated(gens, flat)
      .select(Seq(col("__pre"),
        struct(fields.map(f => col(quote(f.name)).as(f.name)): _*)
          .as("__post"),
        col("__act")) ++ extraCols.map(col): _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }

  /** The merge's surviving rows off a [[cdcAugment]] frame. */
  private def resultFromAug(aug: DataFrame): DataFrame =
    aug.filter(col("__act") =!= "del" && col("__act") =!= "drop")
      .select(col("__post.*"))

  /** The row-level CDC events off a [[cdcAugment]] frame: an update act
    * emits `update_preimage` + `update_postimage`, a delete act the
    * preimage as `delete`, an insert act the post row as `insert` —
    * riders (`keep`) emit NOTHING, which is the whole point: feed volume
    * is the changed rows, not the rewritten files.
    */
  private def cdcFromAug(aug: DataFrame): DataFrame = {
    val upd = col("__act").rlike("^[ub]\\d+$")
    val evs = when(upd, array(
        struct(col("__pre").as("r"), lit("update_preimage").as("t")),
        struct(col("__post").as("r"), lit("update_postimage").as("t"))))
      .when(col("__act") === "del",
        array(struct(col("__pre").as("r"), lit("delete").as("t"))))
      .otherwise(
        array(struct(col("__post").as("r"), lit("insert").as("t"))))
    aug.filter(upd || col("__act").isin("del", "ins"))
      .select(explode(evs).as("e"))
      .select(col("e.r.*"), col("e.t").as("_change_type"))
  }

  /** The merge as one declarative plan over `base FULL OUTER JOIN
    * source` — see [[taggedJoin]] and [[projectResult]].
    */
  private[sources] def applyClauses(snap: LogTable.Snapshot, base: DataFrame,
                                    src: DataFrame): DataFrame =
    projectResult(snap, taggedJoin(snap, base, src))

  private def insertExpr(ic: MergeInto.InsertClause, field: String,
                         dt: DataType,
                         fills: Seq[String] = Nil): Column =
    ic.values.collectFirst {
        case (k, v) if k.equalsIgnoreCase(field) => expr(v)
      }
      .orElse((source.schema.fieldNames.toSeq ++ fills)
        .find(_.equalsIgnoreCase(field))
        .map(n => col("s." + quote(n))))
      .getOrElse(lit(null))
      .cast(dt)

  /** Nullability of the committed schema after the merge. Probed over an
    * INNER-join shell (matched rows genuinely have both sides) for
    * update assignments and over the source shell alone for inserts —
    * never over the full-outer plan, whose blanket nullability would
    * wrongly demote every NOT NULL column.
    */
  /** The snapshot under the schema this merge COMMITS: unchanged
    * without [[withSchemaEvolution]]; with it, source-only columns
    * append nullable and strictly-wider source types widen — computed
    * fresh per retry (a race winner's own evolution folds in).
    */
  private def evolveForMerge(raw: LogTable.Snapshot): LogTable.Snapshot = {
    if (!schemaEvolution) return raw
    val known = raw.schema.fieldNames.map(_.toLowerCase).toSet
    val added = source.schema.fields.toIndexedSeq
      .filterNot(f => known.contains(f.name.toLowerCase))
      .map(_.copy(nullable = true))
    // column-mapping resurrection guard — same contract as upsert's
    // mergeSchema path: a new column may not reuse a retired or
    // renamed-away at-rest physical name
    added.foreach { f =>
      val clash =
        raw.droppedPhysicals.exists(_.equalsIgnoreCase(f.name)) ||
          raw.schema.fields.exists(g =>
            !g.name.equalsIgnoreCase(f.name) &&
              raw.physicalOf(g.name).equalsIgnoreCase(f.name))
      require(!clash,
        s"merge into $path: evolved column `${f.name}` collides with a " +
          "retired or renamed column's at-rest physical name — add it " +
          "via ALTER TABLE ... ADD COLUMNS instead")
    }
    val widened = raw.schema.fields.toIndexedSeq.map { f =>
      source.schema.fields
        .find(g => g.name.equalsIgnoreCase(f.name) &&
          LogTable.typeWidens(f.dataType, g.dataType))
        .map(g => f.copy(dataType = g.dataType)).getOrElse(f)
    }
    if (added.isEmpty && widened == raw.schema.fields.toIndexedSeq) raw
    else raw.copy(schemaDdl = StructType(widened ++ added).toDDL)
  }

  private def widenedDdl(snap: LogTable.Snapshot,
                         fills: Seq[String] = Nil): String = {
    val tShell = LogTable.emptyDf(spark, snap.schema).alias("t")
    // the identity-enriched source carries the generated column NOT NULL,
    // so the nullability probe must see it — lit(null)'s blanket
    // nullability would wrongly demote the identity column
    val srcSchema = fills.foldLeft(source.schema)((sc, fn) =>
      StructType(sc.fields :+ StructField(fn, LongType, nullable = false)))
    val sShell = LogTable.emptyDf(spark, srcSchema).alias("s")
    val joinCond = keyCols.map(k =>
      col("t." + quote(k)) === col("s." + quote(k))).reduce(_ && _)
    val inner = tShell.join(sShell, joinCond, "inner")
    def nullableOn(shell: DataFrame, e: Column, dt: DataType): Boolean =
      shell.select(e.cast(dt).as("x")).schema.head.nullable
    StructType(snap.schema.fields.map { f =>
      if (f.nullable) f
      else {
        val byUpdate = matched.flatMap(_.set).exists(m =>
          m.collectFirst { case (k, v) if k.equalsIgnoreCase(f.name) => v }
            .exists(v => nullableOn(inner, expr(v), f.dataType)))
        // by-source assignments see the target scope alone (s. refs were
        // rejected at build time) — probe over the target shell
        val byBySource = bySource.flatMap(_.set).exists(m =>
          m.collectFirst { case (k, v) if k.equalsIgnoreCase(f.name) => v }
            .exists(v => nullableOn(tShell, expr(v), f.dataType)))
        val byInsert = insert.exists(ic =>
          nullableOn(sShell, insertExpr(ic, f.name, f.dataType, fills),
            f.dataType))
        if (byUpdate || byBySource || byInsert) f.copy(nullable = true) else f
      }
    }).toDDL
  }
}

object MergeInto {
  /** Above this many changed files a by-source merge's restricted
    * rewrite degrades to the classic full rewrite — an IN-list of file
    * names larger than this costs more in the plan than it saves in
    * write volume (and a change set that wide IS a full rewrite).
    */
  val RestrictVictimsMaxFiles = 10000

  /** A WHEN MATCHED clause: `set = Some(assignments)` updates,
    * `set = None` deletes; `condition` is SQL over `t.`/`s.`.
    */
  final case class MatchedClause(condition: Option[String],
                                 set: Option[Map[String, String]])

  final case class InsertClause(condition: Option[String],
                                values: Map[String, String])
}
