package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StructField,
  StructType}

/** GENERAL KEYED TABLE under the [[Manifest]] protocol, with
  * TRANSACTIONAL SCHEMA EVOLUTION — the generic form of the
  * specialized ledger stacks (sketch profiles, split assignments,
  * view members are all "rows upserted by key in hash buckets"): one
  * per-bucket-MVCC asset family of after-image rows, upsert/delete/
  * merge/serve/feed/snapshot/compact/vacuum faces, and FULL column
  * evolution — add, type-widen, DROP, and RENAME — each a
  * METADATA-ONLY commit. The training-data use is the doc-metadata
  * sidecar table (language, source, quality, license flags) that
  * gains, renames, and retires columns every few months: rewriting
  * 100 TB of stored rows for any of those is exactly what a table
  * format exists to avoid.
  *
  * COLUMN RESOLUTION IS BY FIELD ID, not by name (the published
  * table formats' core schema-evolution idea — Iceberg assigns every
  * column a permanent id and resolves files through it;
  * independently implemented here). The manifest carries the current
  * [[TxTableStack.TableSchema]] — an ordered list of (id, name,
  * type) plus the next unallocated id — and every physical parquet
  * file stores its columns under the ID-DERIVED name `f<id>`, never
  * the user-facing name. Consequences, each a face of this stack:
  *
  *  - [[evolveSchema]] (ADD) allocates fresh ids and commits — ONE
  *    pointer swap, ZERO data files touched; stored rows read null
  *    in the new columns until re-imaged.
  *  - [[evolveWiden]] promotes a column's type in place (id and
  *    stored bytes untouched; readers cast narrow files up).
  *  - [[evolveDrop]] removes the field from the CURRENT schema only:
  *    stored `f<id>` bytes stay where they are, invisible to head
  *    reads, still served by every pre-drop snapshot (the cut's own
  *    schema renders them). A later [[evolveSchema]] re-adding the
  *    SAME NAME allocates a FRESH id — the old bytes can never
  *    resurrect under the new column, the classic by-name-resolution
  *    corruption field ids exist to prevent.
  *  - [[evolveRename]] changes the NAME on the field; the id — and
  *    therefore every stored file — is untouched: old files serve
  *    under the new name immediately, pre-rename snapshots keep the
  *    old name, and a lagging writer still addressing the old name
  *    refuses loudly (its column no longer resolves).
  *
  * Writers address the schema BY NAME at commit time (names are the
  * user API; ids are the storage contract): a batch carrying a
  * column subset null-fills the rest (the crawler fleet that has not
  * deployed the new field yet); a batch carrying a column the
  * manifest does not know REFUSES loudly (evolve first — silent
  * column drops are how data disappears). Name matching is
  * case-insensitive, matching Spark's default resolution — and so
  * are the duplicate/collision checks, so an evolution can never
  * commit a schema that Spark resolution would then find ambiguous.
  *
  * STORAGE IS BASE + DELTAS (merge-on-read; the Iceberg v2
  * equality-delete / Delta deletion-vector idea in this repo's terms):
  *
  *  - the BASE is one per-bucket-MVCC family, `rows/v=<token>/bkt=<b>`,
  *    its bucket pins in [[Manifest.State.statsV]];
  *  - every upsert / delete / merge into a table that already holds
  *    rows APPENDS one unpartitioned `delta/v=<token>` directory: the
  *    commit's after-images plus a key-only tombstone per deleted key
  *    (`_del`), each row tagged with its bucket. The commit pins it at
  *    the end of [[Manifest.State.deltas]], the chain, in commit order,
  *    with the buckets it touches. The first commit into an empty table
  *    writes the base buckets directly;
  *  - a read resolves the newest row per key: base rows no delta names,
  *    plus each named key's newest delta row unless it is a tombstone
  *    ([[readRows]]);
  *  - [[compact]], [[rebucket]] and the commit that would make the
  *    chain [[ChainCap]] long FOLD the chain into per-bucket bases
  *    through the same write-and-repin law; [[vacuum]] keeps the deltas
  *    of retained cuts and reclaims the rest.
  *
  * A COMMIT IS ONE WRITE. [[commitBatch]] and [[commitDelete]] land
  * their images in one Spark write, and the batch guard (no null key, no
  * repeated key) and the election of the touched buckets ride on that
  * write as observed metrics ([[guardMetrics]]). The commit reads them
  * once the write is done; a refusal deletes the directory it just wrote
  * — nothing pins it, no reader ever saw it — and throws, so the table
  * is left as it was. Two commits need the touched buckets BEFORE they
  * write and keep the guard as a pass of its own: [[commitMerge]], which
  * joins its batch against the stored rows of those buckets, and a
  * commit keyed differently from a pending chain, which folds its images
  * into those buckets' bases.
  *
  * The trade: a delivery writes O(delivery) bytes — nothing stored is
  * re-read or rewritten at commit — where copy-on-write rewrote every
  * bucket it touched, i.e. the whole table once a delivery has more
  * keys than buckets. A read pays one broadcast anti-join against the
  * chain's keys; space holds the chain's superseded images until the
  * next fold. Compaction pays the rewrite once per cadence instead of
  * once per commit. The change feed reads, at both cuts, the buckets
  * whose base moved inside the window whole and elsewhere only the
  * keys the window's deltas name — ACROSS an evolution boundary it
  * resolves the before-cut BY ID onto the after-cut's schema, so a
  * consumer always sees feed rows in the schema of the cut it is
  * advancing to, renames and drops included. An evolution commit
  * alone re-pins nothing and correctly emits an empty feed. Commits
  * stay exactly-once by batch id, and MERGE applies conditional rules
  * with an optional delete arm.
  *
  * No reference counterpart (jurimetria-etl fixes its 13-column frame
  * at parse time); schema evolution follows the published
  * table-format designs, independently implemented. */
object TxTableStack {

  /** One column of the table: a PERMANENT id (the storage name is
    * `f<id>`), the current user-facing name, and the current type. */
  final case class TField(id: Int, name: String, dataType: DataType) {
    def physName: String = s"f$id"
  }

  /** The table's current column list plus the next unallocated field
    * id (ids are never reused — the no-resurrection guarantee).
    * Persisted in [[Manifest.State.schema]] as ONE LINE:
    * `<nextId>|<id>:<name>:<typeSql>;...` — the codec normalizes
    * whatever DDL the caller wrote (multi-line stripMargin included)
    * into this canonical single-line form, so a torn manifest line
    * can never happen. */
  final case class TableSchema(nextId: Int, fields: Seq[TField]) {
    def ddl: String =
      fields.map(f => s"${f.name} ${f.dataType.sql}").mkString(", ")
    def encode: String =
      s"$nextId|" + fields.map(f =>
        s"${f.id}:${f.name}:${f.dataType.sql}").mkString(";")
    def structType: StructType =
      StructType.fromDDL(if (fields.isEmpty) "" else ddl)
    /** Case-insensitive name lookup — Spark's default resolution. */
    def find(name: String): Option[TField] =
      fields.find(_.name.equalsIgnoreCase(name))
  }

  object TableSchema {
    private val namePat = "[A-Za-z_][A-Za-z0-9_]*".r.pattern

    private def requireName(n: String): Unit =
      require(namePat.matcher(n).matches(),
        s"column name '$n' is not a plain identifier " +
          "([A-Za-z_][A-Za-z0-9_]*) — the manifest codec and the " +
          "s./b. merge-rule aliases both require it")

    /** Parse caller DDL and allocate ids 1..n (or `from`..). Refuses
      * non-identifier names and case-insensitive duplicates. */
    def fromDdl(ddl: String, from: Int = 1): TableSchema = {
      val st = StructType.fromDDL(ddl)
      st.fieldNames.foreach(requireName)
      val dups = st.fieldNames.groupBy(_.toLowerCase)
        .filter(_._2.length > 1).keys
      require(dups.isEmpty,
        s"duplicate column names (case-insensitive): ${dups.mkString(", ")}")
      TableSchema(from + st.size,
        st.fields.toSeq.zipWithIndex.map { case (f, i) =>
          TField(from + i, f.name, f.dataType) })
    }

    def decode(s: String): TableSchema = {
      val i = s.indexOf('|')
      require(i > 0, s"not an encoded table schema: $s")
      val fs = s.drop(i + 1).split(";").filter(_.nonEmpty).toSeq.map { e =>
        val parts = e.split(":", 3)
        TField(parts(0).toInt, parts(1),
          StructType.fromDDL(s"x ${parts(2)}").head.dataType)
      }
      TableSchema(s.take(i).toInt, fs)
    }
  }

  /** The base rows per bucket in `statsV`; the delta chain. */
  private[operators] val families: Seq[Manifest.Family] =
    Seq(Manifest.Bucketed("rows", _.statsV), Manifest.Chain("delta"))

  private def bktOf(c: Column, buckets: Int): Column =
    pmod(xxhash64(c), lit(buckets.toLong)).cast("int")

  private def notInitialized(root: String) = Manifest.notInitialized("table", root)

  private def schemaOf(st: Manifest.State): TableSchema =
    TableSchema.decode(st.schema)

  /** The chain length at which a commit folds the chain into the bases
    * instead of appending a delta: it bounds a read's merge work at
    * this many deltas. */
  private[operators] val ChainCap = 8

  /** Create the table at `root` with its initial row schema (Spark
    * DDL, e.g. `"doc_id LONG, lang STRING"` — normalized into the
    * canonical encoded form before storing, so multi-line DDL is
    * safe). The key column is passed per call like every stack's,
    * not stored. */
  def init(spark: SparkSession, root: String, schema: String): Unit =
    Manifest.create(spark, root, s"table already initialized at $root")(
      Manifest.State(0L, -1L, -1L, Map.empty,
        schema = TableSchema.fromDdl(schema).encode))

  /** Rename logical columns to their `f<id>` storage names — the
    * write-side half of the id-resolution contract. `bkt` and the
    * `extra` bookkeeping columns keep their names. */
  private def toPhysical(df: DataFrame, schema: TableSchema,
                         extra: String*): DataFrame =
    df.select(schema.fields.map(f =>
      col(f.name).as(f.physName)) ++ ("bkt" +: extra).map(col): _*)

  /** The Spark schema of the parquet files under `dir`, from ONE footer
    * read on the driver, every field nullable. Handing it to the reader
    * skips the schema-inference job `spark.read.parquet` would otherwise
    * run per read. Every file of one write shares its schema, and the
    * footer carries the schema Spark wrote, so by-id projection sees
    * exactly the physical ids and types of that write. */
  private def footerSchema(spark: SparkSession, dir: String): StructType = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new Path(dir)
    val file = p.getFileSystem(conf).listStatus(p).map(_.getPath)
      .find { f => val n = f.getName
        n.endsWith(".parquet") && !n.startsWith(".") && !n.startsWith("_") }
      .getOrElse(throw new IllegalStateException(s"no parquet file under $dir"))
    // options built from `conf`: the default builder makes a fresh Hadoop
    // Configuration, which re-parses the default XML on every call
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf),
      HadoopReadOptions.builder(conf).build())
    val written = try Option(reader.getFooter.getFileMetaData
        .getKeyValueMetaData.get("org.apache.spark.sql.parquet.row.metadata"))
      .map(DataType.fromJson(_).asInstanceOf[StructType])
      .getOrElse(throw new IllegalStateException(
        s"$file carries no Spark schema — not written by this table"))
    finally reader.close()
    StructType(written.map(f => StructField(f.name, f.dataType)))
  }

  /** Select every `schema` field from `raw` by its `f<id>` storage name
    * — present ids cast to the declared type, ids the file predates (or
    * that were dropped and re-added) null-filled — plus the `keep`
    * columns as they are. */
  private def byId(raw: DataFrame, schema: TableSchema,
                   keep: Column*): DataFrame = {
    val have = raw.columns.toSet
    raw.select(schema.fields.map { f =>
      (if (have(f.physName)) col(f.physName).cast(f.dataType)
       else lit(null).cast(f.dataType)).as(f.name)
    } ++ keep: _*)
  }

  /** Boolean columns a reader tags each write's rows with. */
  private type Tags = Seq[(String, Boolean)]

  /** The parquet dirs of some `writes` (each write's dirs, and the
    * `Tags` its rows carry as literal columns) under `root/family`, by
    * id onto `schema`, plus the `keep` columns and `_v`: the `v=`
    * partition value of a dir, i.e. the version token of its write. A
    * write's files share the physical schema its commit wrote, but
    * ACROSS writes the id set and the physical types may differ; writes
    * that share one, and their tags, are read by one scan. Tokens stay
    * out of every expression: a literal token would make each read's
    * generated code new, and compile it again. */
  private def readWrites(spark: SparkSession, root: String, family: String,
                         writes: Seq[(Seq[String], Tags)],
                         schema: TableSchema, keep: String*): DataFrame =
    writes.groupBy { case (dirs, tags) => (footerSchema(spark, dirs.head), tags) }
      .toSeq.map { case ((phys, tags), ws) =>
        (phys, tags, ws.flatMap(_._1).sorted) }.sortBy(_._3.head)
      .map { case (phys, tags, dirs) =>
        byId(spark.read.schema(phys.add("v", LongType))
          .option("basePath", s"$root/$family").parquet(dirs: _*), schema,
          keep.map(col) ++ (col("v").as("_v") +:
            tags.map { case (n, b) => lit(b).as(n) }): _*)
      }.reduce(_.unionByName(_))

  /** The base rows under `pins` (bucket → token; a change feed passes
    * both cuts' pins, so a bucket may appear twice) by id onto `schema`,
    * with `bkt`, `_v` and the `tags` of each pin. Passing a DIFFERENT
    * cut's schema is the change feed's cross-boundary projection:
    * renames follow the id, drops disappear, adds read null. */
  private def readBase(spark: SparkSession, root: String,
                       pins: Iterable[(Int, Long)], schema: TableSchema,
                       tags: ((Int, Long)) => Tags = _ => Nil): DataFrame =
    if (pins.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
        schema.structType.add("bkt", IntegerType).add("_v", LongType))
    else
      readWrites(spark, root, "rows",
        pins.toSeq.distinct.groupBy(p => (p._2, tags(p))).toSeq.map {
          case ((v, t), ps) => ps.map(p => s"$root/rows/v=$v/bkt=${p._1}") -> t },
        schema, "bkt")

  /** Deltas' rows — after-images and tombstones — by id onto `schema`,
    * with `bkt`, `_del`, `_v` and the `tags` of each delta; only rows in
    * the `restrict` buckets. */
  private def readDeltas(spark: SparkSession, root: String,
                         ds: Seq[Manifest.Delta], schema: TableSchema,
                         restrict: Option[Set[Int]],
                         tags: Manifest.Delta => Tags = _ => Nil): DataFrame = {
    val rows = readWrites(spark, root, "delta",
      ds.map(d => Seq(s"$root/delta/v=${d.token}") -> tags(d)), schema,
      "bkt", "_del")
    // a delta spans buckets; keep only its rows in the read set
    restrict.filterNot(bs => ds.forall(_.buckets.forall(bs)))
      .fold(rows)(bs => rows.filter(col("bkt").isin(bs.toSeq: _*)))
  }

  /** The name, in `schema`, of the field a cut's chain is keyed by. */
  private def chainKey(st: Manifest.State, schema: TableSchema): String =
    schema.fields.find(_.id == st.deltaKey).map(_.name).getOrElse(
      throw new IllegalStateException(
        s"the delta chain's key (field ${st.deltaKey}) is not in the " +
          "schema it is read under — compact the table first"))

  /** The committed rows of a cut on `schema` (+ bkt), optionally only
    * those in the `restrict` buckets: the base rows no delta names, plus
    * each named key's NEWEST delta row unless that row is a tombstone.
    * With no chain this is the base read alone.
    *
    * One rule settles both: a row drops when a delta with a LARGER
    * version token names its key. Tokens grow with the commit ordinal,
    * and a commit that writes bases also empties the chain, so every
    * delta of a cut outranks every base pin of it. The rule is one
    * anti-join against the chain's (key, token) pairs; those are small,
    * so it broadcasts them once and neither the bases nor the deltas
    * shuffle. `_v` stays a column read from the paths, never a
    * literal, so the optimizer cannot split that one broadcast per
    * union branch. */
  private def readRows(spark: SparkSession, root: String,
                       st: Manifest.State, schema: TableSchema,
                       restrict: Option[Set[Int]]): DataFrame = {
    val base = readBase(spark, root,
      restrict.fold(st.statsV)(bs => st.statsV.filter(p => bs(p._1))), schema)
    val chain = st.deltas.filter(d => restrict.forall(d.buckets.exists(_)))
    if (chain.isEmpty) base.drop("_v")
    else {
      val key = chainKey(st, schema)
      val deltas = readDeltas(spark, root, chain, schema, restrict)
      val named = deltas.select(col(key).as("_key"), col("_v").as("_newer"))
      base.withColumn("_del", lit(false)).unionByName(deltas)
        .join(named, col(key) === col("_key") && col("_newer") > col("_v"),
          "left_anti")
        .filter(!col("_del")).drop("_del", "_v")
    }
  }

  /** Align `batch` to the manifest schema BY NAME (case-insensitive,
    * Spark's resolution): columns it carries cast to their declared
    * types, columns it lags null-filled, columns the schema does not
    * know REFUSED. Output carries the schema's canonical names. */
  private def align(batch: DataFrame, schema: TableSchema): DataFrame = {
    val known = schema.fields.map(_.name.toLowerCase).toSet
    val extra = batch.columns.filterNot(c => known(c.toLowerCase))
    require(extra.isEmpty,
      s"batch carries columns the table schema does not know: " +
        s"${extra.mkString(", ")} — evolveSchema first")
    val have = batch.columns.map(_.toLowerCase).toSet
    batch.select(schema.fields.map { f =>
      (if (have(f.name.toLowerCase)) col(f.name).cast(f.dataType)
       else lit(null).cast(f.dataType)).as(f.name)
    }: _*)
  }

  /** The batch-shape guard every keyed write face shares: the key column
    * exists, no row has a null key (a null key has no bucket), and no key
    * appears on two rows — a repeated key would persist duplicate rows in
    * [[commitBatch]] and fan out the join in [[commitMerge]],
    * double-applying an additive rule WITHIN one commit (the corruption
    * the batch-id guard prevents ACROSS commits). Over `rows` + `bkt` +
    * `_n` (the row count of each row's key, `count(*) over (partition by
    * key)`), three aggregates settle it and elect the touched buckets on
    * the same pass: the rows with a null key, the rows whose key repeats,
    * and the set of `bkt` values.
    *
    * Both counters count BAD rows, so each is zero exactly when the batch
    * is clean. Observed on a write ([[Dataset.observe]]), a re-run task
    * merges its rows into the accumulators again: that can only add to a
    * counter already non-zero, never make a clean batch refuse or a bad
    * one pass. A guard computed as the difference of two counts (rows
    * minus keys) would break under that double count; none is. */
  private def guardMetrics(key: String): Seq[Column] = Seq(
    count_if(col(key).isNull).as("nulls"),
    count_if(col(key).isNotNull && col("_n") > 1).as("repeats"),
    collect_set(col("bkt")).as("bkts"))

  /** The `_n` column [[guardMetrics]] reads for a batch whose keys may
    * repeat: one shuffle by key, shared with nothing else. */
  private def keyRows(key: String): Column =
    count(lit(1)).over(Window.partitionBy(col(key)))

  /** REQUIRE the guard's counters zero and return the touched buckets.
    * A refused commit first deletes `orphan`, the directory its write
    * landed: nothing pins it, and the table is left as it was. */
  private def requireGuard(spark: SparkSession, g: Row, key: String,
                           orphan: Option[String]): Seq[Int] = {
    val nulls = g.getAs[Long]("nulls")
    val repeats = g.getAs[Long]("repeats")
    if (nulls > 0 || repeats > 0) orphan.foreach(deleteDir(spark, _))
    require(nulls == 0,
      s"$nulls batch rows carry a NULL $key " +
        "— a null key resolves to no bucket; filter or fix upstream")
    require(repeats == 0,
      s"$repeats batch rows share their $key with another batch row " +
        "— an upsert batch is a set of after-images, one per key; fold " +
        "duplicates deterministically upstream")
    g.getSeq[Int](g.fieldIndex("bkts"))
  }

  /** The guard as its own pass over `rows`, for the commits that need
    * the touched buckets before they write. Callers pass a
    * LAZY-checkpointed `rows`: this one drain also materializes it. */
  private def guardPass(spark: SparkSession, rows: DataFrame, key: String,
                        n: Column): Seq[Int] = {
    val m = guardMetrics(key)
    requireGuard(spark, rows.withColumn("_n", n).agg(m.head, m.tail: _*)
      .head(), key, None)
  }

  private def deleteDir(spark: SparkSession, dir: String): Unit = {
    val p = new Path(dir)
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
  }

  /** How long a commit waits for its write's observed guard. The
    * observation completes on the listener bus right after the write
    * returns; the bound only turns a lost observation into an error
    * instead of a hang. */
  private val ObserveTimeout = scala.concurrent.duration.Duration(5, "min")

  private def keyField(schema: TableSchema, keyCol: String): TField =
    schema.find(keyCol).getOrElse(throw new IllegalArgumentException(
      s"key column $keyCol is not in the table schema"))

  /** Fold the chain — and a capped commit's own `extra` images, which
    * outrank it — into the `buckets` bases: the rows of those buckets
    * shuffle ONCE by bucket, each key keeps its newest row (bases rank
    * below every delta; see [[readRows]]) unless that is a tombstone,
    * and each bucket lands as ONE file under a fresh pin through
    * [[Manifest.writeRepin]]; the chain empties. `buckets` must cover
    * every bucket the chain and `extra` touch (more is a
    * defragmentation of those too). A base row whose chain key is null
    * (written under another key) passes through as itself: no delta can
    * name a null key, so each such row is a group of its own. */
  private def fold(spark: SparkSession, root: String, st: Manifest.State,
                   vNew: Long, schema: TableSchema, buckets: Seq[Int],
                   extra: Seq[DataFrame] = Nil): Manifest.State = {
    val bs = buckets.toSet
    val base = readBase(spark, root, st.statsV.filter(p => bs(p._1)), schema)
    val rows =
      if (st.deltas.isEmpty && extra.isEmpty)
        base.drop("_v").repartition(col("bkt"))
      else {
        val cols = schema.fields.map(_.name) :+ "_del"
        val key = col(chainKey(st, schema))
        (base.withColumn("_del", lit(false)) +:
          (if (st.deltas.isEmpty) Nil
           else Seq(readDeltas(spark, root, st.deltas, schema, Some(bs)))) ++:
          extra.map(_.withColumn("_v", lit(Long.MaxValue))))
          .reduce(_.unionByName(_))
          .repartition(col("bkt"))
          // after the shuffle, so the id only has to be unique, not stable
          .withColumn("_nk", when(key.isNull, monotonically_increasing_id()))
          .groupBy(col("bkt"), key, col("_nk"))
          .agg(max_by(struct(cols.map(col): _*), col("_v")).as("_row"))
          .select(col("bkt") +: cols.map(c => col(s"_row.$c").as(c)): _*)
          .filter(!col("_del"))
      }
    st.copy(version = vNew,
      statsV = Manifest.writeRepin(toPhysical(rows, schema), "rows", root,
        vNew, buckets, st.statsV),
      deltas = Seq.empty, deltaKey = -1)
  }

  /** The write path every keyed face shares: land `images` — the
    * commit's after-images (`_del` false) and key-only tombstones
    * (`_del` true) on the table schema, + bkt — as the state of version
    * `vNew`, in ONE Spark write that carries the guard
    * ([[guardMetrics]], `n` its `_n` column) through
    * [[Dataset.observe]]:
    *
    *  - into a table with no rows yet, the images ARE the base: they
    *    write their buckets directly;
    *  - otherwise they append ONE delta directory and pin it at the end
    *    of the chain — O(delivery) bytes, no stored row re-read; the
    *    commit that makes the chain [[ChainCap]] long then folds the
    *    whole chain, its own delta included, into the bases.
    *
    * The guard is read after the write: a refusal deletes the directory
    * the write landed (nothing pins it) and throws, and images that touch
    * no bucket delete it and pin nothing. No pre-pass and no checkpoint
    * run. The exception is a commit keyed differently from a pending
    * chain: a chain has one key, so it folds the chain, then its own
    * images into the buckets they touch, and that second fold must know
    * those buckets before it writes — it keeps the guard as its own pass
    * ([[guardPass]]), as [[commitMerge]] does to read the stored rows its
    * batch joins. */
  private def land(spark: SparkSession, root: String, st: Manifest.State,
                   vNew: Long, batchId: Long, schema: TableSchema,
                   key: TField, images: DataFrame, n: Column): Manifest.State = {
    val landed =
      if (st.deltas.nonEmpty && st.deltaKey != key.id) {
        val rows = images.localCheckpoint(eager = false) // drained by the guard
        val touched = guardPass(spark, rows, key.name, n)
        if (touched.isEmpty) st
        else fold(spark, root,
          fold(spark, root, st, vNew, schema, st.deltas.flatMap(_.buckets).distinct)
            .copy(deltaKey = key.id),
          vNew, schema, touched, Seq(rows))
      } else {
        val first = st.statsV.isEmpty && st.deltas.isEmpty
        val tok = Manifest.attemptVersion(vNew)
        val dir = s"$root/${if (first) "rows" else "delta"}/v=$tok"
        val obs = Observation()
        val m = guardMetrics(key.name)
        val seen = images.withColumn("_n", n).observe(obs, m.head, m.tail: _*)
          .drop("_n")
        if (first)
          Manifest.writeBuckets(toPhysical(seen.filter(!col("_del")), schema), dir)
        else
          toPhysical(seen, schema, "_del").write.mode("overwrite").parquet(dir)
        val touched = requireGuard(spark,
          scala.concurrent.Await.result(obs.future, ObserveTimeout),
          key.name, Some(dir))
        if (first) {
          val present = Manifest.writtenBuckets(spark, dir)
          if (present.isEmpty) deleteDir(spark, dir)
          st.copy(statsV = present.map(_ -> tok).toMap)
        } else if (touched.isEmpty) { deleteDir(spark, dir); st }
        else {
          val chained = st.copy(
            deltas = st.deltas :+ Manifest.Delta(tok, touched.sorted),
            deltaKey = key.id)
          if (chained.deltas.size < ChainCap) chained
          else fold(spark, root, chained, vNew, schema,
            chained.deltas.flatMap(_.buckets).distinct)
        }
      }
    landed.copy(version = vNew, batchId = batchId)
  }

  /** TRANSACTIONAL UPSERT — the batch's rows are AFTER-IMAGES:
    * each replaces its key's stored row wholesale (or inserts); rows
    * the batch never named ride through verbatim. The batch must carry
    * each key exactly once (REQUIREd, on the commit's one write — see
    * [[land]]). Lagging writers null-fill (see [[align]]). Exactly-once
    * by batch id. */
  def commitBatch(spark: SparkSession, root: String, batch: DataFrame,
                  batchId: Long, keyCol: String, buckets: Int,
                  publish: Boolean = true): Boolean =
    Manifest.commitGuard(spark, root, batchId, publish)(
      throw notInitialized(root)) { (st, vNew) =>
      val schema = schemaOf(st)
      val key = keyField(schema, keyCol)
      val rows = align(batch, schema)
        .withColumn("bkt", bktOf(col(key.name), buckets))
      land(spark, root, st, vNew, batchId, schema, key,
        rows.withColumn("_del", lit(false)), keyRows(key.name))
    }

  /** TRANSACTIONAL DELETE — drop the keys' rows: one key-only tombstone
    * per distinct key; absent keys are no-ops (replay- and
    * double-delete-exact). Keys are cast to the key column's type
    * before they are bucketed, as upserted rows are. The distinct keys
    * are one per non-null key by construction, so the guard reads a
    * constant `_n` and adds no shuffle by key. */
  def commitDelete(spark: SparkSession, root: String, keys: DataFrame,
                   batchId: Long, keyCol: String, buckets: Int,
                   publish: Boolean = true): Boolean =
    Manifest.commitGuard(spark, root, batchId, publish)(
      throw notInitialized(root)) { (st, vNew) =>
      val schema = schemaOf(st)
      val key = keyField(schema, keyCol)
      val ids = keys.select(col(keyCol).cast(key.dataType).as(key.name))
        .filter(col(key.name).isNotNull).distinct()
        .withColumn("bkt", bktOf(col(key.name), buckets))
      val tombstones = ids.select(schema.fields.map(f =>
        if (f.id == key.id) col(f.name)
        else lit(null).cast(f.dataType).as(f.name)) ++
        Seq(col("bkt"), lit(true).as("_del")): _*)
      land(spark, root, st, vNew, batchId, schema, key, tombstones, lit(1L))
    }

  /** Resolve each merge rule/predicate against the aliased s ⋈ b
    * frame and REQUIRE the declared outcome type — the refuse-loudly
    * closure of the rule surface: a rule whose resolved type cannot
    * LOSSLESSLY cast to its target column (e.g. a string expression
    * into BIGINT) would otherwise null silently under the plain cast
    * that writes it. Analysis-only, no job runs. */
  private def requireRuleType(joined: DataFrame, what: String,
                              sql: String, target: DataType): Unit = {
    val resolved = joined.select(expr(sql)).schema.head.dataType
    require(resolved == target ||
      org.apache.spark.sql.catalyst.expressions.Cast
        .canUpCast(resolved, target),
      s"$what resolves to ${resolved.sql}, which does not safely " +
        s"cast to the declared ${target.sql} — a plain cast would " +
        "null silently; fix the rule or widen the column first")
  }

  /** TRANSACTIONAL MERGE — the conditional-upsert face (MERGE INTO
    * semantics, the published formats' third write shape after upsert
    * and delete): the batch joins stored rows by key; a MATCHED row
    * for which `deleteWhen` holds (a SQL predicate over the aliases
    * `s` = stored and `b` = batch — `WHEN MATCHED AND <cond> THEN
    * DELETE`) is DROPPED; any other matched row is re-imaged by the
    * `onMatched` column rules (SQL expressions over the same aliases,
    * e.g. `"views" -> "s.views + b.views"`); matched columns WITHOUT
    * a rule keep their stored value (the standard `UPDATE SET <cols>`
    * contract — [[commitBatch]] is the replace-all `SET *` face);
    * unmatched batch rows INSERT as-is; stored rows the batch never
    * named ride through verbatim. One join of the batch against the
    * stored rows of its keys' buckets; the commit lands the batch keys'
    * after-images and a key-only tombstone per deleted key ([[land]]).
    * Every rule's resolved type is validated against its column
    * ([[requireRuleType]]) and `deleteWhen` must resolve BOOLEAN.
    * Additive rules and the delete arm are both NON-idempotent, which
    * is exactly why the guard's batch-id high-water matters: a
    * replayed trigger is absorbed before the join and can never
    * double-apply an update or double-free a bucket's rows. */
  def commitMerge(spark: SparkSession, root: String, batch: DataFrame,
                  batchId: Long, keyCol: String, buckets: Int,
                  onMatched: Map[String, String],
                  deleteWhen: Option[String] = None,
                  publish: Boolean = true): Boolean =
    Manifest.commitGuard(spark, root, batchId, publish)(
      throw notInitialized(root)) { (st, vNew) =>
      val schema = schemaOf(st)
      val keyF = keyField(schema, keyCol)
      val key = keyF.name
      require(!onMatched.keySet.exists(_.equalsIgnoreCase(key)),
        s"the key column $key cannot carry a matched rule — " +
          "re-keying a row is a delete + insert")
      val unknown = onMatched.keySet.filter(schema.find(_).isEmpty)
      require(unknown.isEmpty,
        s"matched rules name columns the table schema does not know: " +
          s"${unknown.mkString(", ")} — evolveSchema first")
      val rows = align(batch, schema)
        .withColumn("bkt", bktOf(col(key), buckets))
        .localCheckpoint(eager = false) // drained by the guard pass
      val touched = guardPass(spark, rows, key, keyRows(key))
      if (touched.isEmpty) st.copy(version = vNew, batchId = batchId)
      else {
        val sKey = col(s"s.$key")
        val bKey = col(s"b.$key")
        val joined = readRows(spark, root, st, schema, Some(touched.toSet))
          .alias("s").join(rows.alias("b"), sKey === bKey, "right_outer")
        onMatched.foreach { case (name, sql) =>
          requireRuleType(joined, s"matched rule for $name", sql,
            schema.find(name).get.dataType)
        }
        deleteWhen.foreach(sql => requireRuleType(joined,
          "the deleteWhen predicate", sql,
          org.apache.spark.sql.types.BooleanType))
        val matched = sKey.isNotNull
        val del = deleteWhen.map(sql => matched && coalesce(expr(sql),
          lit(false))).getOrElse(lit(false))
        val images = joined
          .select(schema.fields.map { f =>
            val sC = col(s"s.${f.name}")
            val bC = col(s"b.${f.name}")
            (if (f.name == key) bC
             else when(!del, when(matched, onMatched.collectFirst {
                    case (n, sql) if n.equalsIgnoreCase(f.name) => expr(sql)
                  }.getOrElse(sC))
                  .otherwise(bC)))
              .cast(f.dataType).as(f.name)
          } ++ Seq(col("b.bkt").as("bkt"), del.as("_del")): _*)
        land(spark, root, st, vNew, batchId, schema, keyF, images, lit(1L))
      }
    }

  /** The shared metadata-only evolution commit: derive the new
    * [[TableSchema]] from the head's, publish ONE pointer swap with
    * every pin riding through untouched. */
  private def evolve(spark: SparkSession, root: String, publish: Boolean)
                    (derive: TableSchema => TableSchema): Boolean =
    Manifest.transact(spark, root, publish)(throw notInitialized(root)) {
      (st, vNew) =>
        val next = derive(schemaOf(st))
        require(st.deltas.isEmpty || next.fields.exists(_.id == st.deltaKey),
          "the pending delta chain is keyed by the column this evolution " +
            "drops — compact the table first")
        Some(st.copy(version = vNew, schema = next.encode))
    }

  /** ADD-COLUMN SCHEMA EVOLUTION — a METADATA-ONLY commit: `addDdl`
    * (e.g. `"quality DOUBLE, license STRING"`) appends to the row
    * schema under FRESH field ids; every pin rides through untouched,
    * zero data files are read or written, and ONE pointer swap
    * publishes the new schema. New columns read as null on every
    * stored row until an upsert re-images it — including a column
    * whose NAME was dropped earlier: the fresh id guarantees the old
    * bytes never resurrect. */
  def evolveSchema(spark: SparkSession, root: String, addDdl: String,
                   publish: Boolean = true): Boolean =
    evolve(spark, root, publish) { cur =>
      val added = TableSchema.fromDdl(addDdl, from = cur.nextId)
      val dup = added.fields.map(_.name).filter(n => cur.find(n).isDefined)
      require(dup.isEmpty,
        s"columns already in the table schema (case-insensitive): " +
          s"${dup.mkString(", ")} — only fresh names can be added")
      TableSchema(added.nextId, cur.fields ++ added.fields)
    }

  /** DROP-COLUMN EVOLUTION — a METADATA-ONLY commit, the face
    * by-name resolution cannot offer and field ids make safe: the
    * field leaves the CURRENT schema; its stored `f<id>` bytes stay
    * in every pinned file, invisible to head reads, still served by
    * every pre-drop snapshot (each cut renders its own schema), and
    * reclaimed bucket-by-bucket as later upserts rewrite buckets
    * under the narrower schema. Re-adding the same NAME later gets a
    * fresh id — no resurrection. */
  def evolveDrop(spark: SparkSession, root: String, colName: String,
                 publish: Boolean = true): Boolean =
    evolve(spark, root, publish) { cur =>
      val f = cur.find(colName).getOrElse(throw
        new IllegalArgumentException(
          s"column $colName is not in the table schema"))
      require(cur.fields.length > 1,
        s"cannot drop $colName — it is the table's only column")
      cur.copy(fields = cur.fields.filterNot(_.id == f.id))
    }

  /** RENAME-COLUMN EVOLUTION — a METADATA-ONLY commit: the NAME
    * changes on the field, the id — and therefore every stored file —
    * is untouched, so old files serve under the new name immediately
    * and pre-rename snapshots keep the old name. Collisions are
    * checked case-insensitively; a writer still addressing the old
    * name refuses loudly at its next commit ([[align]]). */
  def evolveRename(spark: SparkSession, root: String, from: String,
                   to: String, publish: Boolean = true): Boolean =
    evolve(spark, root, publish) { cur =>
      val f = cur.find(from).getOrElse(throw
        new IllegalArgumentException(
          s"column $from is not in the table schema"))
      TableSchema.fromDdl(s"$to STRING") // validate the identifier
      require(cur.find(to).forall(_.id == f.id),
        s"column $to already exists (case-insensitive) — renaming " +
          s"$from onto it would make resolution ambiguous")
      cur.copy(fields = cur.fields.map(g =>
        if (g.id == f.id) g.copy(name = to) else g))
    }

  /** The information-preserving type promotions this stack accepts —
    * the published formats' type-promotion table (Iceberg v2: int →
    * long, float → double; plus the smaller integral widths). */
  private val widenings: Set[(String, String)] = {
    val ints = Seq("TINYINT", "SMALLINT", "INT", "BIGINT")
    (for {
      (from, i) <- ints.zipWithIndex
      to <- ints.drop(i + 1)
    } yield from -> to).toSet + ("FLOAT" -> "DOUBLE")
  }

  /** TYPE-WIDENING EVOLUTION — promote a column to a wider type as a
    * METADATA-ONLY commit: zero data files touched, one pointer swap,
    * the field id untouched. Readers already project every pinned
    * file onto the cut's schema BY ID WITH A CAST, so files written
    * under the narrower physical type read widened for free — which
    * is exactly why only information-preserving promotions are legal
    * (narrowing or re-typing would corrupt silently where this cast
    * succeeds and throw where it refuses; both are refused here
    * instead). Snapshots before the widening keep serving the
    * narrower type they were written for. */
  def evolveWiden(spark: SparkSession, root: String, colName: String,
                  newType: String, publish: Boolean = true): Boolean =
    evolve(spark, root, publish) { cur =>
      val field = cur.find(colName).getOrElse(throw
        new IllegalArgumentException(
          s"column $colName is not in the table schema"))
      val to = StructType.fromDDL(s"x $newType").head.dataType
      require(widenings((field.dataType.sql, to.sql)),
        s"${field.dataType.sql} -> ${to.sql} is not an " +
          "information-preserving promotion — only integral widening " +
          "and float -> double are supported")
      cur.copy(fields = cur.fields.map(g =>
        if (g.id == field.id) g.copy(dataType = to) else g))
    }

  /** The committed rows of a cut, in the cut's schema — a snapshot
    * BEFORE an evolution serves exactly the columns (names, types,
    * ids) it was committed under. */
  def resolve(spark: SparkSession, root: String,
              version: Option[Long] = None): DataFrame = {
    val st = Manifest.stateAt(spark, root, version)
    readRows(spark, root, st, schemaOf(st), None).drop("bkt")
  }

  /** The cut's schema as Spark DDL — what [[resolve]] serves. */
  def schemaAt(spark: SparkSession, root: String,
               version: Option[Long] = None): String =
    schemaOf(Manifest.stateAt(spark, root, version)).ddl

  /** CHANGE DATA FEED between two cuts, classified insert / delete /
    * update with the after-image riding along (null on delete), IN
    * THE `toVersion` CUT'S SCHEMA: across an evolution boundary the
    * before-cut resolves BY FIELD ID onto the after schema — added
    * columns read null, renamed columns follow their id, dropped
    * columns vanish from the diff — so a row whose only difference
    * is a newly-populated column classifies correctly and a
    * rename/drop alone changes nothing.
    *
    * The manifests bound the read: a bucket whose base pin moved inside
    * the window, or that a delta leaving the chain (a fold) touched, is
    * diffed whole; elsewhere only the keys named by deltas committed
    * inside the window are (a broadcast semi-join). Every base version
    * and delta either cut holds is read ONCE, flagged with the cuts
    * that hold it, and one aggregation by key takes each cut's newest
    * row (ranked as in [[readRows]]) — no full-outer join of two
    * separately resolved cuts. A cut whose chain is keyed by another
    * column than `keyCol` is the exception: its tombstones carry only
    * that column, so each cut of the read set is resolved by its own
    * chain's key first. An evolution-only window reads and emits
    * nothing. */
  def changes(spark: SparkSession, root: String, fromVersion: Long,
              toVersion: Long, keyCol: String): DataFrame = {
    val (stF, stT) = Manifest.changeWindow(spark, root, fromVersion, toVersion)
    val target = schemaOf(stT)
    val keyF = target.find(keyCol).getOrElse(throw
      new IllegalArgumentException(
        s"key column $keyCol is not in the toVersion schema"))
    val key = keyF.name
    val payload = target.fields.map(_.name).filterNot(_ == key)
    val before = stF.deltas.map(_.token).toSet
    val after = stT.deltas.map(_.token).toSet
    val window = stT.deltas.filterNot(d => before(d.token))
    val folded = stF.deltas.filterNot(d => after(d.token))
    val moved = Manifest.repinnedBuckets(stF.statsV, stT.statsV).toSet ++
      folded.flatMap(_.buckets)
    val (whole, keyed) =
      if (stT.deltaKey == keyF.id) (moved, window.flatMap(_.buckets).toSet -- moved)
      else (moved ++ window.flatMap(_.buckets), Set.empty[Int])
    val read = whole ++ keyed
    val pinsF = stF.statsV.filter(p => read(p._1))
    val pinsT = stT.statsV.filter(p => read(p._1))
    val deltas = (stF.deltas ++ stT.deltas).distinct
      .filter(_.buckets.exists(read))
    // every write either cut holds, read once, tagged with the cuts
    // holding it
    val pins = pinsF.toSeq ++ pinsT
    val rows = if (Seq(stF, stT).exists(s => s.deltas.nonEmpty &&
        s.deltaKey != keyF.id)) {
      // a chain keyed by another column names the keys of its
      // tombstones in that column alone: resolve each cut by its own
      // chain's key, then diff the two (one live row per key and cut)
      Seq(stF -> true, stT -> false).map { case (st, inF) =>
        readRows(spark, root, st, target, Some(read)).select(col("*"),
          lit(0L).as("_v"), lit(false).as("_del"), lit(inF).as("_inF"),
          lit(!inF).as("_inT"))
      }.reduce(_.unionByName(_))
    } else ((if (pins.isEmpty) Nil
      else Seq(readBase(spark, root, pins, target, p =>
        Seq("_inF" -> pinsF.get(p._1).contains(p._2),
          "_inT" -> pinsT.get(p._1).contains(p._2)))
        .withColumn("_del", lit(false)))) ++
      (if (deltas.isEmpty) Nil
       else Seq(readDeltas(spark, root, deltas, target, Some(read), d =>
         Seq("_inF" -> before(d.token), "_inT" -> after(d.token))))))
      .reduceOption(_.unionByName(_))
      .getOrElse(readBase(spark, root, Nil, target)
        .select(col("*") +: Seq("_del", "_inF", "_inT").map(lit(false).as(_)): _*))
    val scoped =
      if (keyed.isEmpty) rows
      else {
        val named = readDeltas(spark, root, window, target, None).select(key)
        if (whole.isEmpty) rows.join(named, Seq(key), "left_semi")
        else rows.filter(col("bkt").isin(whole.toSeq: _*)).unionByName(
          rows.filter(col("bkt").isin(keyed.toSeq: _*))
            .join(named, Seq(key), "left_semi"))
      }
    // each cut's newest row of a key (`_b` before, `_a` after) and its
    // rank, null when the cut holds no row of the key
    val row = struct((payload :+ "_del").map(col): _*)
    val newest = Seq("_inF" -> "_b", "_inT" -> "_a").flatMap { case (in, n) =>
      val rank = when(col(in), col("_v"))
      Seq(max_by(row, rank).as(n), max(rank).as(s"${n}v")) }
    def live(n: String) = col(s"${n}v").isNotNull && !col(s"$n._del")
    val bs = struct(payload.map(c => col(s"_b.$c")): _*)
    val as = struct(payload.map(c => col(s"_a.$c")): _*)
    scoped.groupBy(key).agg(newest.head, newest.tail: _*)
      .select(col(key) +: payload.map(c => when(live("_a"), col(s"_a.$c")).as(c)) :+
        when(!live("_b") && live("_a"), lit("insert"))
          .when(live("_b") && !live("_a"), lit("delete"))
          .when(live("_b") && live("_a") && !(bs <=> as), lit("update"))
          .as("change"): _*)
      .filter(col("change").isNotNull)
  }

  /** RE-BUCKET MIGRATION — the undersized-B cure every keyed family
    * carries: one commit moves the whole row family, the delta chain
    * folded in, under `newBuckets` (an O(table) rewrite by definition,
    * amortized over the corpus growth that forced it); later commits
    * must pass the new bucket count. The row schema rides through
    * unchanged. */
  def rebucket(spark: SparkSession, root: String, keyCol: String,
               newBuckets: Int, publish: Boolean = true): Boolean = {
    require(newBuckets > 0, "newBuckets must be positive")
    Manifest.transact(spark, root, publish)(throw notInitialized(root)) {
      (st, vNew) =>
        Option.when(st.statsV.nonEmpty || st.deltas.nonEmpty) {
          val schema = schemaOf(st)
          val key = keyField(schema, keyCol).name
          st.copy(version = vNew,
            statsV = Manifest.moveFamily(
              toPhysical(readRows(spark, root, st, schema, None)
                .withColumn("bkt", bktOf(col(key), newBuckets)), schema),
              "rows", root, vNew),
            deltas = Seq.empty, deltaKey = -1)
        }
    }
  }

  /** COMPACTION — the OPTIMIZE face ([[Ledger.compactBuckets]]'s
    * sibling under the manifest). Two things fragment a table's read:
    * the delta chain, and base buckets written as many files as their
    * write had tasks. Elect FROM METADATA ALONE every bucket a pending
    * delta touches plus every pinned bucket with more than
    * `maxFilesPerBucket` files (a listing, no data read), fold the
    * chain into those buckets and rewrite each content-identically to
    * ONE file through the normal write-and-repin law, and publish one
    * maintenance commit (the batch high-water is untouched —
    * compaction is not a batch). Unelected buckets keep their pins:
    * their bytes are untouched by construction. Returns the elected
    * bucket ids (empty → nothing to do, nothing committed); an
    * unpublished compaction elects them and writes nothing. */
  def compact(spark: SparkSession, root: String,
              maxFilesPerBucket: Int = 1,
              publish: Boolean = true): Seq[Int] = {
    require(maxFilesPerBucket >= 1, "maxFilesPerBucket must be >= 1")
    var elected = Seq.empty[Int]
    Manifest.transact(spark, root, publish)(throw notInitialized(root)) {
      (st, vNew) =>
        val fsys = new Path(root).getFileSystem(spark.sessionState.newHadoopConf())
        val fragmented = st.statsV.toSeq.filter { case (b, v) =>
          fsys.listStatus(new Path(s"$root/rows/v=$v/bkt=$b"))
            .count(_.getPath.getName.endsWith(".parquet")) > maxFilesPerBucket
        }.map(_._1)
        elected = (fragmented ++ st.deltas.flatMap(_.buckets)).distinct.sorted
        Option.when(elected.nonEmpty && publish)(
          fold(spark, root, st, vNew, schemaOf(st), elected))
    }
    elected
  }

  /** Garbage-collect unpinned row versions and deltas no retained cut
    * chains, and retire history below the retention floor. */
  def vacuum(spark: SparkSession, root: String,
             retainVersions: Int = 0): TxServeStack.VacuumStats =
    Manifest.vacuum(spark, root, retainVersions, families)
}
