package graft.sources

import scala.collection.concurrent.TrieMap

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.ParquetReadOptions
import org.apache.parquet.column.impl.ColumnReadStoreImpl
import org.apache.parquet.column.page.PageReadStore
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.{FilterApi, FilterPredicate}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.{BlockMetaData, ParquetMetadata}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.internal.filter2.columnindex.RowRanges
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType,
  PrimitiveType}

import graft.cube.{CubeIngest, ExtraDim}

/** Direct tile-window reads over graft's OWN ingested parquet layout
  * (SURVEY X5/X6; `CubeIngest.writeCube`) — the materialized-levels
  * analogue of [[StoreWindow]]: a 256×256 window is one footer probe +
  * ~one filtered row group, decoded on the serving thread with
  * parquet-mr column readers, no Spark job. Store-backed zarr/NC cubes
  * already served at ~20 ms via direct chunk reads while graft-ingested
  * pyramids still paid Spark's ~0.3 s ad-hoc job floor per interactive
  * tile (the reference's whole serving surface is this fast path,
  * im/tiledimage.py:859-874).
  *
  * Pruning relies on the ingest layout's own guarantees:
  *  - `p_date=<date>` partition dirs → only the request's date is
  *    listed/opened (partition pruning by path);
  *  - rows sorted by (tile_y, tile_x, y_idx, x_idx) → the y_idx/x_idx
  *    range predicate prunes row groups via footer min/max stats and
  *    pages via the column index (`readNextFilteredRowGroup`), exactly
  *    what the Spark scan would do — re-expressed without the job.
  *
  * Decoding bypasses example-Group record assembly (measured 110 ms for
  * a 64k-row window — object churn, not IO) for raw [[ColumnReadStoreImpl]]
  * primitive reads (~10× less). Page-level pruning returns a SUPERSET
  * of matching rows, so every predicate (y/x range, time equality) is
  * re-applied per row here — correctness never depends on how much the
  * index pruned.
  *
  * Values come out bit-identical to the Spark path by construction:
  * same parquet decoder lineage, same double bits, nulls (masked cells)
  * left as the NaN the renderer initializes.
  */
private[graft] object ParquetWindow {

  private val DayUs = 86400000000L

  /** Ingest-layout geometry from the sidecar (layout ≥ 2 only — the
    * marker `CubeIngest.writeCube` stamps once its sort order is
    * trustworthy): grid dims, tile size, the row offset of each
    * (tile_y, tile_x) block in file order, and the extra non-spatial
    * dims a 4-D ingest recorded. */
  private final case class StoreMeta(width: Int, height: Int,
      tileSize: Int, tilesX: Int, blockOffsets: Array[Long],
      extraDims: Seq[ExtraDim]) {
    /** rows of one (time, extra-dims…) plane */
    def planeRows: Long = width.toLong * height
    def planeCount: Long = extraDims.map(_.values.length.toLong).product
    /** Row offset of the plane holding the selected extra-dim values
      * within one time step's run: the ingest sorts by the extra-dim
      * COLUMNS ascending (between time and the tile id), so planes lie
      * in lexicographic (sorted d1, sorted d2, …) order. None when a
      * value is not on its axis. */
    def planeRank(sel: Seq[Double]): Option[Long] = {
      var rank = 0L
      extraDims.zip(sel).foreach { case (d, v) =>
        val pos = d.values.sorted.indexOf(v)
        if (pos < 0) return None
        rank = rank * d.values.length + pos
      }
      Some(rank)
    }
  }

  private object StoreMeta {
    def of(sc: CubeIngest.Sidecar): Option[StoreMeta] = {
      val ts = sc.tileSize
      sc.grid.filter(_ => sc.layout >= 2 && ts > 0).map { g =>
        val (w, h) = (g.width, g.height)
        val tilesX = (w + ts - 1) / ts
        val tilesY = (h + ts - 1) / ts
        val offs = new Array[Long](tilesY * tilesX + 1)
        var acc = 0L
        var i = 0
        for (ty <- 0 until tilesY; tx <- 0 until tilesX) {
          offs(i) = acc
          acc += math.min(ts, h - ty * ts).toLong * math.min(ts, w - tx * ts)
          i += 1
        }
        offs(i) = acc
        StoreMeta(w, h, ts, tilesX, offs, sc.extraDims)
      }
    }
  }

  /** One store's read state, built on first use and dropped whole by
    * [[invalidate]]: its Hadoop conf, its sidecar, its per-date
    * part-file lists and its per-file footers. Pooled readers are keyed
    * by their owning handle, so dropping a handle finds its readers by
    * identity. */
  private final class Store(path: String) {
    // a fresh Configuration lazily re-parses the Hadoop XML defaults on
    // first use (~10-20 ms) — constructing one per tile request
    // silently dominated the whole read
    val conf: Configuration = {
      val c = new Configuration()
      BlobStore.optionsFor(path).foreach { case (k, v) => c.set(k, v) }
      c
    }
    lazy val sidecar: Option[CubeIngest.Sidecar] = CubeIngest.readSidecar(path)
    lazy val meta: Option[StoreMeta] = sidecar.flatMap(StoreMeta.of)
    private val dateFiles = TrieMap.empty[String, Seq[Path]]
    private val footers = TrieMap.empty[Path, ParquetMetadata]

    /** the `.parquet` part files of one `p_date=<date>` dir */
    def partFiles(date: String): Seq[Path] =
      dateFiles.getOrElseUpdate(date, {
        val p = new Path(s"$path/p_date=$date")
        val fs = p.getFileSystem(conf)
        if (!fs.exists(p)) Nil
        else fs.listStatus(p).toSeq
          .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
          .map(_.getPath)
      })

    def footer(file: Path): ParquetMetadata =
      footers.getOrElseUpdate(file, {
        val r = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
        try r.getFooter finally r.close()
      })
  }

  private val stores = TrieMap.empty[String, Store]

  private def store(path: String): Store =
    stores.getOrElseUpdate(path, new Store(path))

  // pooled open readers for the dense path: ParquetFileReader.open
  // costs ~10 ms even with a cached footer (codec/stream/allocator
  // setup) — random-access readFilteredRowGroup needs no cursor, so
  // one long-lived reader per (file, column) serves every tile. One
  // column per reader because a reader builds its per-row-group index
  // store once, for the columns requested at that first use, and
  // setRequestedSchema never rebuilds it: a reader shared across
  // variables hands the second variable a null offset index. Access is
  // serialized per reader (decompressors are not thread-safe).
  //
  // BOUNDED: a long-running tile server over a daily-partitioned
  // multi-year store would otherwise accumulate one open fd per part
  // file ever served, for the process lifetime, until EMFILE. The pool
  // holds at most [[ReaderPoolCap]] readers; beyond it the
  // least-recently-acquired are evicted. Eviction protocol: membership
  // changes under [[poolLock]]; the evicted reader is closed under ITS
  // OWN monitor (in-flight reads hold it, so a read always finishes on
  // an open reader); readers re-check pool membership inside their
  // monitor and re-acquire if they lost the race. Closing costs the
  // next request on that file one ~10 ms reopen — bounded fds beat
  // unbounded. A read racing [[invalidate]] may pool one reader under
  // the dropped handle; the bound closes it like any idle reader.
  private[graft] var ReaderPoolCap = 128 // var: test seam only
  private type ReaderKey = (Store, Path, String)
  private val poolLock = new Object
  // access-ordered: iteration starts at the least recently acquired
  private val pool =
    new java.util.LinkedHashMap[ReaderKey, ParquetFileReader](16, 0.75f, true)

  /** get-or-open the pooled reader for one column of `file`, touch its
    * LRU position, and evict past the cap (never the reader just
    * acquired). */
  private def acquireReader(k: ReaderKey, footer: ParquetMetadata,
                            proj: MessageType): ParquetFileReader = {
    val (r, victims) = poolLock.synchronized {
      var got = pool.get(k)
      if (got == null) {
        val in = HadoopInputFile.fromPath(k._2, k._1.conf)
        got = ParquetFileReader.open(in, footer,
          ParquetReadOptions.builder().build(), in.newStream())
        got.setRequestedSchema(proj)
        pool.put(k, got)
      }
      (got, removeFromPool(_ => pool.size > ReaderPoolCap, keep = k))
    }
    closeAll(victims)
    r
  }

  /** remove the entries `pick` selects, visiting the least recently
    * acquired first; caller holds [[poolLock]] */
  private def removeFromPool(pick: ReaderKey => Boolean,
                             keep: ReaderKey = null): Seq[ParquetFileReader] = {
    val out = Seq.newBuilder[ParquetFileReader]
    val it = pool.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getKey != keep && pick(e.getKey)) {
        out += e.getValue
        it.remove()
      }
    }
    out.result()
  }

  private def closeAll(rs: Seq[ParquetFileReader]): Unit =
    rs.foreach(r => r.synchronized {
      try r.close() catch { case scala.util.control.NonFatal(_) => () }
    })

  private[graft] def invalidate(path: String): Unit =
    stores.remove(path).foreach { s =>
      closeAll(poolLock.synchronized(removeFromPool(_._1 eq s)))
    }

  /** test seam: paths of currently pooled open readers */
  private[graft] def pooledReaderPaths: Set[String] =
    poolLock.synchronized {
      import scala.jdk.CollectionConverters._
      pool.keySet.asScala.map(_._2.toString).toSet
    }

  private[graft] def clear(): Unit = {
    stores.clear()
    closeAll(poolLock.synchronized(removeFromPool(_ => true)))
  }

  /** the raw INT64 value a row group's `time` column holds in every
    * row, None when its stats do not pin one */
  private def pinnedTime(b: BlockMetaData): Option[Long] = {
    import scala.jdk.CollectionConverters._
    b.getColumns.asScala.find(_.getPath.toDotString == "time").flatMap { c =>
      val st = c.getStatistics
      if (st == null || st.isEmpty || !st.hasNonNullValue ||
          st.getNumNulls > 0 || st.genericGetMin != st.genericGetMax) None
      else st.genericGetMin match {
        case l: java.lang.Long => Some(l.longValue())
        case _ => None
      }
    }
  }

  /** Time axis from footer statistics alone — no Spark job, no data
    * pages: Some(sorted distinct epoch-us) when every row group of
    * every date file pins its INT64 time column (min == max, the
    * layout-2 one-step-per-row-group norm); None otherwise (caller
    * falls back to a distinct scan). Registration of a parquet store
    * then costs footer reads (cached, needed for tile serving anyway)
    * instead of a cluster job. */
  def statsTimeAxis(path: String): Option[Seq[Long]] = {
    val s = store(path)
    val root = new Path(path)
    val fs = root.getFileSystem(s.conf)
    if (!fs.exists(root)) return None
    val dates = fs.listStatus(root).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("p_date="))
      .map(_.getPath.getName.stripPrefix("p_date="))
    if (dates.isEmpty) return None
    import scala.jdk.CollectionConverters._
    val times = scala.collection.mutable.ArrayBuffer.empty[Long]
    for (d <- dates; f <- s.partFiles(d)) {
      val footer = s.footer(f)
      val schema = footer.getFileMetaData.getSchema
      val ti = try schema.getFieldIndex("time")
        catch { case _: Exception => return None }
      val tf = schema.getFields.get(ti)
      if (!tf.isPrimitive) return None
      val unit = tf.asPrimitiveType().getLogicalTypeAnnotation match {
        case ts: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
          ts.getUnit
        case _ if tf.asPrimitiveType().getPrimitiveTypeName ==
          PrimitiveType.PrimitiveTypeName.INT64 => null // bare us
        case _ => return None // INT96 etc: no usable stats
      }
      footer.getBlocks.asScala.foreach { b =>
        val raw = pinnedTime(b).getOrElse(return None)
        times += (unit match {
          case null => raw
          case LogicalTypeAnnotation.TimeUnit.MICROS => raw
          case LogicalTypeAnnotation.TimeUnit.MILLIS => raw * 1000L
          case LogicalTypeAnnotation.TimeUnit.NANOS =>
            Math.floorDiv(raw, 1000L)
        })
      }
    }
    if (times.isEmpty) None else Some(times.distinct.sorted.toSeq)
  }

  /** The cell window [y0, y0+h) × [x0, x0+w) of `variable` at `timeUs`
    * — and, for 4-D stores, at the extra-dim plane selected by `extra`
    * (name → coordinate value, in sidecar dim order) — row-major with
    * NaN padding: the value layout the Spark tile path collects. None
    * when the store has no partition dir for the date, or when the
    * request's extra dims don't match the sidecar's (caller falls back
    * to the Spark path). */
  def readWindow(path: String, variable: String, timeUs: Long,
                 y0: Int, x0: Int, h: Int, w: Int,
                 extra: Seq[(String, Double)] = Nil)
      : Option[Array[Double]] = {
    // the request must name exactly the dims the store was ingested
    // with (same order) AND values that exist on their axes: anything
    // else refuses (None → Spark path) — a mismatched request must
    // never overlay planes, and an off-axis value must not serve a
    // silently-blank Some (the chunked-store path refuses likewise)
    val s = store(path)
    val declared = s.sidecar.map(_.extraDims).getOrElse(Nil)
    if (declared.map(_.name) != extra.map(_._1)) return None
    if (declared.zip(extra).exists { case (d, (_, v)) =>
        !d.values.contains(v) }) return None
    val date = java.time.LocalDate.ofEpochDay(Math.floorDiv(timeUs, DayUs))
    val files = s.partFiles(date.toString)
    if (files.isEmpty) return None
    val out = Array.fill(h * w)(Double.NaN)
    files.foreach(f =>
      readFile(s, f, variable, timeUs, extra, y0, x0, h, w, out))
    Some(out)
  }

  private def readFile(s: Store, file: Path, variable: String, timeUs: Long,
                       extra: Seq[(String, Double)],
                       y0: Int, x0: Int, h: Int, w: Int,
                       out: Array[Double]): Unit = {
    import scala.jdk.CollectionConverters._
    val footer = s.footer(file)
    val schema = footer.getFileMetaData.getSchema
    val createdBy = footer.getFileMetaData.getCreatedBy
    // (getFields route: GroupType.getType(String) is overload-ambiguous
    // from Scala against MessageType.getType(String*))
    def field(n: String): org.apache.parquet.schema.Type =
      schema.getFields.get(schema.getFieldIndex(n))
    val timeField = field("time").asPrimitiveType()
    val proj = new MessageType("spark_schema", (Seq(field("time")) ++
      extra.map(e => field(e._1)) ++
      Seq(field("y_idx"), field("x_idx"), field(variable))): _*)
    var pred: FilterPredicate = FilterApi.and(
      FilterApi.and(
        FilterApi.gtEq(FilterApi.intColumn("y_idx"), Int.box(y0)),
        FilterApi.ltEq(FilterApi.intColumn("y_idx"), Int.box(y0 + h - 1))),
      FilterApi.and(
        FilterApi.gtEq(FilterApi.intColumn("x_idx"), Int.box(x0)),
        FilterApi.ltEq(FilterApi.intColumn("x_idx"), Int.box(x0 + w - 1))))
    // one equality per extra dim selects the plane — stats + column
    // index prune row groups/pages of other planes (the layout sorts
    // extra dims between time and the tile id, so planes are
    // contiguous runs with tight min/max)
    extra.foreach { case (n, v) =>
      pred = FilterApi.and(pred,
        FilterApi.eq(FilterApi.doubleColumn(n), Double.box(v)))
    }
    // INT64 timestamps also filter at the index level (stats +
    // dictionary prune); legacy INT96 has no usable stats
    val timeIsInt96 = timeField.getPrimitiveTypeName ==
      PrimitiveType.PrimitiveTypeName.INT96
    val rawTime: Long =
      if (timeIsInt96) 0L
      else rawTimeValue(timeField, timeUs) match {
        case Some(raw) =>
          pred = FilterApi.and(pred,
            FilterApi.eq(FilterApi.longColumn("time"), Long.box(raw)))
          raw
        case None => return // time not representable in this file's unit
      }
    // every row group's time stats pinned to exactly the requested
    // step (the typical one-step-per-day partition): the time column
    // need not be read at all — the predicate still guards correctness
    // when stats are absent (INT96) or spans are wider
    val blocks = footer.getBlocks.asScala
    val timeUniform = !timeIsInt96 &&
      blocks.forall(b => pinnedTime(b).contains(rawTime))
    val opts = ParquetReadOptions.builder()
      .withRecordFilter(FilterCompat.get(pred))
      .build() // stats/dictionary/column-index filters all default on
    // DENSE fast path: when the layout marker guarantees the sort
    // order, the time is pinned by stats, and the file holds exactly
    // one full grid (rows == W×H with unique (t,y,x) ⇒ dense), the
    // global row index alone determines the cell — decode ONLY the
    // value column, no y/x/time reads at all (~3× fewer column-reader
    // ops per row than the generic loop)
    val totalRows = blocks.map(_.getRowCount).sum
    // single row group only: with one group, positions are row indexes
    // even when no page was filtered (absent row-index iterator); a
    // multi-group file keeps the generic path rather than guess bases.
    // 4-D stores stay dense too: the sort puts each extra-dim plane in
    // one contiguous planeRows-sized run (lexicographic by sorted
    // coordinate values), so the selected plane is a row-offset shift.
    val planeBase: Option[Long] = s.meta.flatMap { m =>
      if (totalRows != m.planeRows * m.planeCount) None
      else m.planeRank(extra.map(_._2)).map(_ * m.planeRows)
    }
    val dense = timeUniform && blocks.size == 1 && planeBase.isDefined
    if (dense && readFileDense(s, file, footer, s.meta.get, variable,
        planeBase.get, y0, x0, h, w, out))
      return
    // cached footer: no per-request footer IO/parse
    val in = HadoopInputFile.fromPath(file, s.conf)
    val r = ParquetFileReader.open(in, footer, opts, in.newStream())
    try {
      r.setRequestedSchema(proj)
      var pages = r.readNextFilteredRowGroup()
      while (pages != null) {
        val n = pages.getRowCount
        if (n > 0) {
          val crs = new ColumnReadStoreImpl(pages,
            new GroupRecordConverter(proj).getRootConverter, proj,
            createdBy)
          val cols = proj.getColumns
          val ne = extra.length
          val tr = if (timeUniform) null else crs.getColumnReader(cols.get(0))
          val ers = Array.tabulate(ne)(k =>
            crs.getColumnReader(cols.get(1 + k)))
          val yr = crs.getColumnReader(cols.get(1 + ne))
          val xr = crs.getColumnReader(cols.get(2 + ne))
          val vr = crs.getColumnReader(cols.get(3 + ne))
          val tDef = cols.get(0).getMaxDefinitionLevel
          val eDefs = Array.tabulate(ne)(k =>
            cols.get(1 + k).getMaxDefinitionLevel)
          val yDef = cols.get(1 + ne).getMaxDefinitionLevel
          val xDef = cols.get(2 + ne).getMaxDefinitionLevel
          val vDef = cols.get(3 + ne).getMaxDefinitionLevel
          var i = 0L
          while (i < n) {
            val tOk = timeUniform || (tr.getCurrentDefinitionLevel == tDef && {
              if (timeIsInt96) int96Us(tr.getBinary) == timeUs
              else tr.getLong == rawTime
            })
            // EVERY present value must be read before consume():
            // ColumnReaderImpl does not skip unread values, so a
            // conditional read desynchronizes the column streams
            var eOk = true
            var k = 0
            while (k < ne) {
              val hasE = ers(k).getCurrentDefinitionLevel == eDefs(k)
              val ev = if (hasE) ers(k).getDouble else Double.NaN
              if (!hasE || ev != extra(k)._2) eOk = false
              k += 1
            }
            val hasY = yr.getCurrentDefinitionLevel == yDef
            val y = if (hasY) yr.getInteger else -1
            val hasX = xr.getCurrentDefinitionLevel == xDef
            val x = if (hasX) xr.getInteger else -1
            val hasV = vr.getCurrentDefinitionLevel == vDef
            val v = if (hasV) vr.getDouble else Double.NaN
            // null (masked) cells keep the NaN the window initializes —
            // identical to the Spark path's null handling
            if (tOk && eOk && hasY && hasX && hasV &&
                y >= y0 && y < y0 + h && x >= x0 && x < x0 + w)
              out((y - y0) * w + (x - x0)) = v
            if (tr != null) tr.consume()
            k = 0
            while (k < ne) { ers(k).consume(); k += 1 }
            yr.consume(); xr.consume(); vr.consume()
            i += 1
          }
        }
        pages = r.readNextFilteredRowGroup()
      }
    } finally r.close()
  }

  /** Dense single-grid, single-row-group file: decode the value column
    * only, mapping each row's row index through the block-offset table
    * to its (y, x). Page pruning is done HERE from the offset index
    * (select the pages whose row span intersects the window's tile
    * blocks, `RowRanges.create`) rather than via a filter predicate —
    * predicate columns outside the requested schema evaluate as
    * missing (= empty ranges), and the whole point of this path is to
    * request ONLY the value column. Returns false when the file lacks
    * what the fast path needs (no offset index / unknown column) — the
    * caller then runs the generic reader instead of serving an empty
    * window. */
  private def readFileDense(s: Store, file: Path, footer: ParquetMetadata,
                            m: StoreMeta, variable: String,
                            planeBase: Long,
                            y0: Int, x0: Int, h: Int, w: Int,
                            out: Array[Double]): Boolean = {
    import scala.jdk.CollectionConverters._
    val schema = footer.getFileMetaData.getSchema
    val proj = new MessageType("spark_schema",
      schema.getFields.get(schema.getFieldIndex(variable)))
    val ts = m.tileSize
    val tyLo = math.max(y0, 0) / ts
    val tyHi = math.min(y0 + h - 1, m.height - 1) / ts
    val txLo = math.max(x0, 0) / ts
    val txHi = math.min(x0 + w - 1, m.width - 1) / ts
    if (tyLo > tyHi || txLo > txHi) return true
    // row intervals of the tile blocks the window touches, shifted to
    // the selected extra-dim plane's contiguous run
    val wanted = (for (ty <- tyLo to tyHi; tx <- txLo to txHi) yield {
      val bi = ty * m.tilesX + tx
      (planeBase + m.blockOffsets(bi),
        planeBase + m.blockOffsets(bi + 1) - 1)
    }).sorted
    val block = footer.getBlocks.get(0)
    val rowCount = block.getRowCount
    val vChunk = block.getColumns.asScala
      .find(_.getPath.toDotString == variable).orNull
    if (vChunk == null) return false
    // serialize per reader: the pooled reader's stream/decompressors are
    // stateful; decompressed pages are consumed inside the lock too.
    // Membership is re-checked INSIDE the monitor: an evictor removes
    // from the pool first and only closes under this monitor, so a
    // reader still pooled while we hold its lock cannot be closed
    // under us; one that lost the race (evicted between acquire and
    // lock — needs ReaderPoolCap other readers touched in that window)
    // is simply re-acquired.
    val k: ReaderKey = (s, file, variable)
    val r = acquireReader(k, footer, proj)
    r.synchronized {
      if (!poolLock.synchronized(pool.get(k) eq r))
        return readFileDense(s, file, footer, m, variable, planeBase,
          y0, x0, h, w, out)
      // null when the file has no offset index: generic path
      val oi = r.getColumnIndexStore(0).getOffsetIndex(vChunk.getPath)
      if (oi == null) return false
      def lastRow(p: Int): Long =
        if (p + 1 < oi.getPageCount) oi.getFirstRowIndex(p + 1) - 1
        else rowCount - 1
      val sel = (0 until oi.getPageCount).filter { p =>
        val lo = oi.getFirstRowIndex(p)
        val hi = lastRow(p)
        wanted.exists { case (a, b) => a <= hi && b >= lo }
      }
      val pages: PageReadStore = r.readFilteredRowGroup(0,
        RowRanges.create(rowCount,
          java.util.stream.IntStream.of(sel.toArray: _*).iterator(), oi))
      if (pages == null) return false
      val n = pages.getRowCount
      if (n == 0) return true
      val crs = new ColumnReadStoreImpl(pages,
        new GroupRecordConverter(proj).getRootConverter, proj,
        footer.getFileMetaData.getCreatedBy)
      val cd = proj.getColumns.get(0)
      val vr = crs.getColumnReader(cd)
      val vDef = cd.getMaxDefinitionLevel
      val it = if (pages.getRowIndexes.isPresent)
        pages.getRowIndexes.get else null
      var b = 0 // block cursor: row indexes arrive ascending
      var i = 0L
      while (i < n) {
        val ri0 = if (it != null) it.nextLong() else i
        val hasV = vr.getCurrentDefinitionLevel == vDef
        val v = if (hasV) vr.getDouble else Double.NaN
        // rows outside the selected plane's run (page spans overlap
        // neighboring planes) are read — streams must stay in sync —
        // but never placed
        val ri = ri0 - planeBase
        if (ri >= 0 && ri < m.planeRows) {
          while (ri >= m.blockOffsets(b + 1)) b += 1
          val local = ri - m.blockOffsets(b)
          val ty = b / m.tilesX
          val tx = b % m.tilesX
          val wB = math.min(m.tileSize, m.width - tx * m.tileSize)
          val y = ty * m.tileSize + (local / wB).toInt
          val x = tx * m.tileSize + (local % wB).toInt
          if (hasV && y >= y0 && y < y0 + h && x >= x0 && x < x0 + w)
            out((y - y0) * w + (x - x0)) = v
        }
        vr.consume()
        i += 1
      }
      true
    }
  }

  /** `timeUs` expressed in the file's own timestamp unit, None when it
    * cannot be represented exactly (then no row can match). Bare int64
    * columns are graft-native epoch-us. */
  private def rawTimeValue(t: PrimitiveType, timeUs: Long): Option[Long] =
    t.getLogicalTypeAnnotation match {
      case ts: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
        ts.getUnit match {
          case LogicalTypeAnnotation.TimeUnit.MICROS => Some(timeUs)
          case LogicalTypeAnnotation.TimeUnit.MILLIS =>
            if (timeUs % 1000L == 0L) Some(timeUs / 1000L) else None
          case LogicalTypeAnnotation.TimeUnit.NANOS =>
            try Some(Math.multiplyExact(timeUs, 1000L))
            catch { case _: ArithmeticException => None }
        }
      case _ => Some(timeUs)
    }

  /** legacy INT96 timestamp → epoch-us: 8 bytes nanos-of-day LE + 4
    * bytes Julian day LE (JDN 2440588 = 1970-01-01) */
  private def int96Us(b: org.apache.parquet.io.api.Binary): Long = {
    val bb = b.toByteBuffer.order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val nanos = bb.getLong
    val julianDay = bb.getInt
    (julianDay - 2440588L) * DayUs + nanos / 1000L
  }
}
