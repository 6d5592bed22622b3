package graft.core

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import Spec._

/** The engine registry — Spark twin of `VechordRegistry`
  * (/root/reference/vechord/registry.py) + the client's CRUD surface
  * (/root/reference/vechord/client.py:112-283), over [[Catalog]]'s
  * versioned-segment storage.
  *
  * Tables are namespaced `{ns}_{name}` (client.py:40-51). Mutations are
  * staged as immutable parquet segments and published with one atomic
  * manifest swap — either immediately (auto-commit) or at the end of a
  * [[runTxn]] block (all-or-nothing across every table touched,
  * rollback on exception; registry.py:28-62 semantics).
  */
final class Registry(val spark: SparkSession, root: String,
                     val namespace: String = "public") {

  val catalog = new Catalog(spark, root)
  private val defs = mutable.LinkedHashMap[String, TableDef[_]]()

  /** Per-instance identity for memo-cache keys ([[graft.core.Engine]],
    * [[graft.pipeline.Dynamic]]): `System.identityHashCode` can be
    * REUSED after a dead Registry is GC'd, silently serving a foreign
    * registry's cached index to this one's queries — a UUID cannot
    * collide across instances. */
  val instanceId: String = java.util.UUID.randomUUID().toString

  private def full(name: String): String = s"${namespace}_$name"

  /** Collision-proof version tag over the named tables' CURRENT
    * segment lists (short names; namespace applied): memo caches that
    * keyed on `Vector.hashCode` could pin a stale artifact when two
    * manifests collide in 32 bits — a SHA-256 over the segment paths
    * (with table and path separators so list boundaries can't alias)
    * cannot. */
  def segDigest(names: String*): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    names.foreach { n =>
      md.update((n + "\u0001").getBytes("UTF-8"))
      catalog.current.getOrElse(full(n), Vector.empty)
        .foreach(s => md.update((s + "\u0000").getBytes("UTF-8")))
    }
    md.digest().take(12).map(b => f"$b%02x").mkString
  }

  /** Per-table AutoIncrement sequences (see assignIds). */
  private val idCounters =
    mutable.Map[String, java.util.concurrent.atomic.AtomicLong]()

  private def state(txn: Txn): Map[String, Vector[String]] =
    if (txn == null) catalog.current else txn.staged

  def tableDefs: Seq[TableDef[_]] = defs.values.toSeq

  /** DDL twin (`create_table_if_not_exists`, client.py:112-128): record
    * the defs and publish empty manifest entries for new tables. */
  def register(tds: TableDef[_]*): Registry = {
    tds.foreach(td => defs(td.name) = td)
    if (tds.exists(td => !catalog.current.contains(full(td.name))))
      catalog.commitMerge { cur =>
        val missing = tds.map(td => full(td.name)).filterNot(cur.contains)
        cur ++ missing.map(_ -> Vector.empty[String])
      }
    this
  }

  /** Read a table (optionally at a transaction's staged state). */
  def table(td: TableDef[_], txn: Txn = null): DataFrame =
    catalog.read(full(td.name), td.schema, state(txn))

  /** Read ONLY the rows inserted by this transaction — the
    * `WHERE xmin = pg_current_xact_id()` twin (client.py:222). */
  def tableBuffer(td: TableDef[_], txn: Txn): DataFrame = {
    require(txn != null,
      s"tableBuffer(${td.name}) needs a transaction — the insert buffer " +
        "only exists inside runTxn (from_buffer reads outside a txn " +
        "have no buffer to read)")
    catalog.read(full(td.name), td.schema,
      Map(full(td.name) -> txn.buffer.getOrElse(full(td.name), Vector.empty)))
  }

  private def mutate(txn: Txn)(
      f: Map[String, Vector[String]] => Map[String, Vector[String]]): Unit =
    if (txn == null) catalog.commitMerge(f) // atomic read-modify-publish
    else txn.staged = f(txn.staged)

  /** Append a DataFrame as a new segment (`copy_bulk`/`insert` twin,
    * client.py:240-266). Assigns primary keys per the table's IdGen. */
  def copyBulk(td: TableDef[_], df: DataFrame, txn: Txn = null): Unit = {
    require(df.schema.fieldNames.sameElements(td.schema.fieldNames),
      s"column mismatch for ${td.name}: ${df.columns.mkString(",")}")
    val withIds = assignIds(td, df, txn)
    val t = full(td.name)
    val seg = catalog.writeSegment(t, withIds)
    mutate(txn)(s => s + (t -> (s.getOrElse(t, Vector.empty) :+ seg)))
    if (txn != null)
      txn.buffer += t -> (txn.buffer.getOrElse(t, Vector.empty) :+ seg)
  }

  /** Insert typed rows (driver-side batch). */
  def insert[T <: Product](td: TableDef[T], rows: Seq[T],
                           txn: Txn = null): Unit =
    if (rows.nonEmpty)
      copyBulk(td, spark.createDataset(rows)(td.enc).toDF(), txn)

  private def assignIds(td: TableDef[_], df: DataFrame,
                        txn: Txn): DataFrame = td.idGen match {
    case IdGen.Manual => df
    case IdGen.AutoIncrement =>
      val pk = td.pk
      val pkIdx = td.schema.fieldIndex(pk)
      // ids come from a registry-level sequence (seeded from max(pk) on
      // first use, monotonic afterwards) — two concurrent inserts must
      // not both read the same max(pk) snapshot and assign duplicate
      // keys. Like a PG sequence: rolled-back blocks burn their ids.
      val n = df.count()
      val ctr = idCounters.synchronized {
        idCounters.getOrElseUpdate(full(td.name), {
          val maxRow = table(td, txn).agg(max(col(pk))).head()
          new java.util.concurrent.atomic.AtomicLong(
            if (maxRow.isNullAt(0)) 0L else maxRow.getLong(0))
        })
      }
      val base = ctr.getAndAdd(n)
      val schema = td.schema
      val rdd = df.rdd.zipWithIndex().map { case (r, i) =>
        Row.fromSeq(r.toSeq.updated(pkIdx, base + i + 1))
      }
      spark.createDataFrame(rdd, schema)
    case IdGen.UuidV7 =>
      val pk = td.pk
      val pkIdx = td.schema.fieldIndex(pk)
      val schema = td.schema
      val rdd = df.rdd.map { r =>
        Row.fromSeq(r.toSeq.updated(pkIdx, graft.functions.Uuid.v7()))
      }
      spark.createDataFrame(rdd, schema)
  }

  /** Replace a table's entire contents with `df` (one new segment). The
    * frame-level upsert primitive: compute survivors ∪ merged however you
    * like, then publish the result atomically. */
  def overwrite(td: TableDef[_], df: DataFrame, txn: Txn = null): Unit = {
    require(df.schema.fieldNames.sameElements(td.schema.fieldNames),
      s"column mismatch for ${td.name}: ${df.columns.mkString(",")}")
    val t = full(td.name)
    val seg = catalog.writeSegment(t, df)
    mutate(txn)(s => s + (t -> Vector(seg)))
  }

  /** Conjunctive predicate from a kv filter spec: plain value = equality,
    * [[Spec.AnyOf]] = IN-list, [[Spec.IsNull]]/null = IS NULL
    * (client.py:179-196). */
  def predFrom(kvs: Map[String, Any]): Column =
    kvs.map {
      case (k, null) => col(k).isNull
      case (k, IsNull) => col(k).isNull
      case (k, AnyOf(vs)) => col(k).isin(vs: _*)
      case (k, v) => col(k) === lit(v)
    }.reduceOption(_ && _).getOrElse(lit(true))

  /** `select_by` (client.py:198-228): projection + kv filter + limit,
    * optionally restricted to the txn buffer. `cols = Nil` selects all. */
  def selectBy(td: TableDef[_], kvs: Map[String, Any] = Map.empty,
               cols: Seq[String] = Nil, limit: Int = -1,
               fromBuffer: Boolean = false, txn: Txn = null): DataFrame = {
    val base = if (fromBuffer) tableBuffer(td, txn) else table(td, txn)
    val filtered = base.filter(predFrom(kvs))
    val projected =
      if (cols.isEmpty) filtered
      else filtered.select(cols.map(col): _*)
    if (limit >= 0) projected.limit(limit) else projected
  }

  /** The rows behind a bounded top-k `hits` frame: its first column
    * holds primary-key values of `td`, its other columns ride onto
    * the matching rows. The ≤k hits are collected, the rows fetched
    * with a LITERAL pk `isin` (which the Parquet scan pushes down),
    * the hit columns bound by pk as literal maps, and the result
    * sorted by `order` as a top-n — no join against a full scan, no
    * range exchange. Keys are unique: `hits` is a top-k over ids. */
  def fetchHits(td: TableDef[_], hits: DataFrame,
                order: Column*): DataFrame = {
    val rows = hits.collect()
    val carried = hits.schema.fields.toSeq.zipWithIndex.tail.map {
      case (f, i) =>
        val byKey =
          if (rows.isEmpty) lit(null)
          else element_at(map(rows.toSeq.flatMap(r =>
            Seq(lit(r.get(0)), lit(r.get(i)))): _*), col(td.pk))
        byKey.cast(f.dataType).as(f.name)
    }
    table(td).filter(col(td.pk).isin(rows.map(_.get(0)).toSeq: _*))
      .select(col("*") +: carried: _*)
      .orderBy(order: _*)
      .limit(rows.length)
  }

  /** Filtered DELETE with FK cascade (client.py:268-283 + the ON DELETE
    * CASCADE edges, spec.py:170-173): rewrite each affected table's
    * segment list to its survivors; children are cascaded via anti-joins
    * on the deleted parent keys. Auto-commit mode wraps the whole cascade
    * in one transaction, so it is all-or-nothing. */
  def removeBy(td: TableDef[_], kvs: Map[String, Any],
               txn: Txn = null): Unit =
    if (txn == null) runTxn(t => removeBy(td, kvs, t))
    else removeWhere(td, predFrom(kvs), txn)

  /** Register a post-delete hook for a table: invoked with the DELETED
    * rows after the removing transaction COMMITS (rolled-back deletes
    * never fire; cascaded child deletes fire the child's hooks). The
    * deleted frame reads the pre-delete segments, which are immutable
    * files that survive the commit. Engine uses this to keep at-rest
    * index layouts in sync with `removeBy` — the Spark twin of the
    * index maintenance PostgreSQL's DELETE does implicitly for the
    * reference (client.py:268-283). */
  def onDelete(tableName: String)(hook: DataFrame => Unit): () => Unit =
    deleteHooks.synchronized {
      deleteHooks.getOrElseUpdate(tableName, mutable.Buffer()) += hook
      // detach handle: removes THIS registration (reference identity —
      // the same function literal registered twice detaches one copy)
      () => deleteHooks.synchronized {
        deleteHooks.get(tableName).foreach { b =>
          val i = b.indexWhere(_ eq hook)
          if (i >= 0) b.remove(i)
        }
      }
    }

  private val deleteHooks =
    mutable.Map[String, mutable.Buffer[DataFrame => Unit]]()

  /** Post-commit hook failures from the most recent [[runTxn]] on this
    * registry (empty = all hooks ran clean). The COMMIT itself never
    * fails for a hook: by the time hooks run the manifest is already
    * swapped, so throwing would tell the caller a committed delete
    * failed. Callers that must react to index-maintenance failures
    * (e.g. schedule a layout rebuild) check here. */
  @volatile var lastHookFailures: List[Throwable] = Nil

  private def fireOnCommit(txn: Txn, tableName: String,
                           deleted: DataFrame): Unit = {
    val hooks = deleteHooks.synchronized {
      deleteHooks.get(tableName).map(_.toList).getOrElse(Nil)
    }
    if (hooks.nonEmpty)
      txn.afterCommit = (() => hooks.foreach(_(deleted))) :: txn.afterCommit
  }

  private def removeWhere(td: TableDef[_], pred: Column, txn: Txn): Unit = {
    val cur = table(td, txn)
    val survivors = cur.filter(!coalesce(pred, lit(false)))
    val deleted = cur.filter(coalesce(pred, lit(false)))
    // a delete that matches nothing must not rewrite the table (a no-op
    // removeBy on a large corpus would otherwise cost a full segment
    // rewrite of the parent AND every registered descendant); the same
    // emptiness gate terminates cascade recursion over cyclic or
    // self-referencing FKs (the recursion converges when a level
    // deletes nothing new)
    if (deleted.isEmpty) return
    val t = full(td.name)
    val seg = catalog.writeSegment(t, survivors)
    mutate(txn)(s => s + (t -> Vector(seg)))
    fireOnCommit(txn, td.name, deleted)
    cascadeChildren(td, deleted, txn)
  }

  private def cascadeChildren(parent: TableDef[_], deletedParentRows: DataFrame,
                              txn: Txn): Unit =
    defs.values.filter(_.foreignKeys.exists(_.refTable == parent.name))
      .foreach { child =>
        child.foreignKeys.filter(_.refTable == parent.name).foreach { fk =>
          val keys = deletedParentRows.select(col(fk.refColumn).as("__key"))
            .distinct()
          val cur = table(child, txn)
          val (childDeleted, childSurvivors) =
            Registry.cascadeSplit(cur, keys, fk.column)
          // emptiness gate: skip the rewrite when the cascade touches
          // nothing, and stop recursing — this is also the termination
          // proof for FK cycles (see removeWhere)
          if (!childDeleted.isEmpty) {
            val t = full(child.name)
            val seg = catalog.writeSegment(t, childSurvivors)
            mutate(txn)(s => s + (t -> Vector(seg)))
            fireOnCommit(txn, child.name, childDeleted)
            cascadeChildren(child, childDeleted, txn)
          }
        }
      }

  /** DROP TABLE (client.py:382-388). `cascade` also drops registered
    * children (transitively). */
  def drop(td: TableDef[_], cascade: Boolean = false): Unit = {
    val toDrop = mutable.LinkedHashSet[String]()
    def walk(t: TableDef[_]): Unit = {
      toDrop += t.name
      if (cascade)
        defs.values.filter(_.foreignKeys.exists(_.refTable == t.name))
          .foreach(c => if (!toDrop.contains(c.name)) walk(c))
    }
    walk(td)
    // commitMerge, not commit(current -- ...): the read of `current`
    // happens outside the manifest lock, and replaying a stale snapshot
    // would silently revert any commit that landed in between
    val dropped = toDrop.map(full).toSet
    catalog.commitMerge(cur => cur -- dropped)
    toDrop.foreach(defs.remove)
    idCounters.synchronized { dropped.foreach(idCounters.remove) }
  }

  /** `clear_storage` (registry.py:444-454): truncate every table of
    * THIS registry's namespace (registered tables + their side tables)
    * in one commit. Other namespaces sharing the catalog root are
    * untouched. */
  def clear(): Unit = {
    val prefix = full("")
    catalog.commitMerge(cur => cur.map {
      case (t, _) if t.startsWith(prefix) => t -> Vector.empty[String]
      case other => other
    })
    idCounters.synchronized {
      idCounters.keys.filter(_.startsWith(prefix)).toSeq
        .foreach(idCounters.remove)
    }
  }

  /** Unique-index validation job (spec.py:482-491): returns (column,
    * value, n) rows for every violated unique constraint. */
  def validateUnique(td: TableDef[_]): DataFrame = {
    val dfs = td.indexes.collect { case UniqueIndex(c, nullNotDistinct) =>
      val base = table(td)
      val scoped = if (nullNotDistinct) base else base.filter(col(c).isNotNull)
      scoped.groupBy(col(c).cast("string").as("value"))
        .agg(count(lit(1)).as("n")).filter(col("n") > 1)
        .select(lit(c).as("column"), col("value"), col("n"))
    }
    dfs.reduceOption(_ unionByName _)
      .getOrElse(spark.emptyDataFrame
        .select(lit("").as("column"), lit("").as("value"), lit(0L).as("n"))
        .limit(0))
  }

  /** Vector-dimension validation (spec.py:59-132's shape check, as a
    * batch job): rows whose declared Vector[dim] columns have the wrong
    * length. */
  def validateVectorDims(td: TableDef[_]): DataFrame = {
    val checks = td.vectorDims.map { case (c, dim) =>
      col(c).isNotNull && size(col(c)) =!= dim
    }
    val pred = checks.reduceOption(_ || _).getOrElse(lit(false))
    table(td).filter(pred)
  }

  /** Referential-integrity check: child rows whose FK has no parent. */
  def validateForeignKeys(td: TableDef[_]): DataFrame = {
    val orphans = td.foreignKeys.flatMap { fk =>
      defs.get(fk.refTable).map { parent =>
        val c = table(td)
        c.filter(col(fk.column).isNotNull)
          .join(table(parent).select(col(fk.refColumn).as("__pk")),
            c(fk.column) === col("__pk"), "left_anti")
      }
    }
    orphans.reduceOption(_ unionByName _)
      .getOrElse(table(td).limit(0))
  }

  /** Run `f` in one transaction: every mutation through the txn is
    * staged; the manifest is swapped once on success, never on failure
    * (rollback test twin: tests/test_table.py:261-298). */
  /** Run `f` in a transaction: all writes stage invisibly and publish in
    * ONE atomic manifest swap; an exception discards everything
    * (registry.py:28-62 semantics, rollback test parity).
    *
    * Concurrent transactions serialize at commit and REBASE onto the
    * latest manifest (the optimistic-concurrency pattern of a
    * Delta/Iceberg log): per table, an insert-only delta (staged = base
    * + this txn's segments) re-appends onto whatever is current, like
    * concurrent PG inserts; an overwrite/delete/drop delta publishes
    * only if no other txn touched that table since our snapshot —
    * otherwise it throws a write-write conflict instead of silently
    * dropping the other txn's rows. */
  def runTxn[A](f: Txn => A): A = {
    val txn = new Txn(catalog.current)
    val res = f(txn)
    catalog.commitMerge { cur =>
      val touched = (txn.base.keySet ++ txn.staged.keySet)
        .filter(t => txn.base.get(t) != txn.staged.get(t))
      touched.foldLeft(cur) { (acc, t) =>
        val base = txn.base.getOrElse(t, Vector.empty)
        val staged = txn.staged.get(t)
        val added = txn.buffer.getOrElse(t, Vector.empty)
        staged match {
          case Some(segs) if segs == base ++ added && added.nonEmpty =>
            acc.updated(t, acc.getOrElse(t, Vector.empty) ++ added)
          case _ =>
            if (acc.getOrElse(t, Vector.empty) != base)
              throw new IllegalStateException(
                s"write-write conflict on table $t: concurrently modified")
            staged match {
              case Some(segs) => acc.updated(t, segs)
              case None => acc - t
            }
        }
      }
    }
    // post-commit actions (delete hooks) in registration order; a
    // conflict-thrown commit above never reaches them. A hook failure
    // must NOT mask the committed result (the manifest is already
    // swapped — the delete HAPPENED): every hook still runs, failures
    // are collected into lastHookFailures and logged, and the caller
    // gets the committed result back.
    val failures = List.newBuilder[Throwable]
    txn.afterCommit.reverse.foreach { a =>
      try a()
      catch { case scala.util.control.NonFatal(e) =>
        failures += e
        org.slf4j.LoggerFactory.getLogger(classOf[Registry])
          .warn(s"post-commit hook failed (txn already committed)", e)
      }
    }
    lastHookFailures = failures.result()
    res
  }
}

object Registry {
  /** Split a child table into (cascade-deleted, survivors) by the
    * deleted parent key set. UNHINTED joins: a mass delete's key set
    * can be half a table, and force-broadcasting it is an executor
    * OOM at scale — AQE size-gates the broadcast at runtime, so
    * CRUD-sized deletes still get the broadcast plan for free. */
  private[core] def cascadeSplit(cur: DataFrame, keys: DataFrame,
                                 fkCol: String): (DataFrame, DataFrame) = {
    val deleted = cur.join(keys, cur(fkCol) === col("__key"), "left_semi")
    val survivors = cur.join(keys, cur(fkCol) === col("__key"), "left_anti")
    (deleted, survivors)
  }
}
