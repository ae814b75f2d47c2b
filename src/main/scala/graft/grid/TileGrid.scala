package graft.grid

import graft.geo.Geo.BBox

/** Pyramid / tile-grid arithmetic, a semantics port of the reference's
  * quad-tree subdivision search (xcube_server/im/tilegrid.py:252-397 and
  * TileGrid.create at tilegrid.py:169-244). Pure Scala — this is
  * driver-side planning metadata; no cluster compute involved (SURVEY
  * §2.8 G1-G3).
  *
  * Level convention: level 0 is the COARSEST level here as in the
  * reference TileGrid (WMTS z == level); the MultiLevelDataset convention
  * (0 = finest) inverts via `numLevels - 1 - z` (context.py:155).
  */
final case class TileGrid(numLevels: Int,
                          numLevelZeroTilesX: Int, numLevelZeroTilesY: Int,
                          tileWidth: Int, tileHeight: Int,
                          extent: BBox, invY: Boolean = false) {
  def numTilesX(level: Int): Int = numLevelZeroTilesX << level
  def numTilesY(level: Int): Int = numLevelZeroTilesY << level
  def width(level: Int): Int = numTilesX(level) * tileWidth
  def height(level: Int): Int = numTilesY(level) * tileHeight
  def maxLevel: Int = numLevels - 1
}

object TileGrid {

  val ModeLe: Int = -1
  val ModeEq: Int = 0
  val ModeGe: Int = 1

  /** One 1-D subdivision candidate: padded size, tile size, level-zero
    * tile count, number of levels. */
  final case class Sub(sMax: Int, ts: Int, nt0: Int, nl: Int)

  /** tilegrid.py:169-202 — snap extent to whole degrees (1e-10 tol),
    * EQ modes on global axes, tile size defaults 256 clamped to image. */
  def create(w: Int, h: Int, tileWidth: Option[Int], tileHeight: Option[Int],
             extent: BBox, invY: Boolean = false): TileGrid = {
    def adjustToFloor(x: Double): Double = {
      val fx = math.floor(x)
      if (math.abs(fx - x) < 1e-10) fx else x
    }
    val west = adjustToFloor(extent.xMin)
    val south = adjustToFloor(extent.yMin)
    val east = adjustToFloor(extent.xMax)
    val north = adjustToFloor(extent.yMax)
    val wMode = if (west == -180.0 && east == 180.0) ModeEq else ModeGe
    val hMode = if (south == -90.0 && north == 90.0) ModeEq else ModeGe
    val ((wNew, hNew), (tw, th), (nt0x, nt0y), nl) = pow2Subdivision2d(
      w, h, wMode, hMode,
      twOpt = Some(math.min(w, tileWidth.getOrElse(256))),
      thOpt = Some(math.min(h, tileHeight.getOrElse(256))))
    val newExtent =
      adjustGeoExtent(BBox(west, south, east, north), w, h, wNew, hNew, invY)
    TileGrid(nl, nt0x, nt0y, tw, th, newExtent, invY)
  }

  /** tilegrid.py:205-244 — grow the extent on the non-origin side when
    * the padded pyramid size exceeds the image. */
  def adjustGeoExtent(e: BBox, wOld: Int, hOld: Int, wNew: Int, hNew: Int,
                      invY: Boolean): BBox = {
    require(wNew >= wOld && hNew >= hOld)
    val deltaLon = if (e.xMin < e.xMax) e.xMax - e.xMin else 360.0 + e.xMax - e.xMin
    val deltaLat = e.yMax - e.yMin
    val lon2 =
      if (wNew > wOld) {
        val v = e.xMin + wNew * deltaLon / wOld
        if (v > 180.0) v - 360.0 else v
      } else e.xMax
    val (lat1, lat2) =
      if (hNew > hOld) {
        val d = hNew * deltaLat / hOld
        if (invY) (e.yMax - d, e.yMax) else (e.yMin, e.yMin + d)
      } else (e.yMin, e.yMax)
    BBox(e.xMin, lat1, lon2, lat2)
  }

  /** tilegrid.py:252-309 — 2-D subdivision: independent 1-D searches,
    * then the axis with more levels is re-tiled at the other's level
    * count. Returns ((wAct,hAct),(tw,th),(nt0x,nt0y),nl). */
  def pow2Subdivision2d(w: Int, h: Int,
                        wMode: Int = ModeEq, hMode: Int = ModeEq,
                        twOpt: Option[Int] = None, thOpt: Option[Int] = None,
                        twMin: Option[Int] = None, thMin: Option[Int] = None,
                        twMax: Option[Int] = None, thMax: Option[Int] = None,
                        nt0Max: Option[Int] = None, nlMax: Option[Int] = None)
      : ((Int, Int), (Int, Int), (Int, Int), Int) = {
    val Sub(wAct, tw, nt0xRaw, nlX) =
      pow2Subdivision1d(w, wMode, twOpt, twMin, twMax, nt0Max, nlMax)
    val Sub(hAct, th, nt0yRaw, nlY) =
      pow2Subdivision1d(h, hMode, thOpt, thMin, thMax, nt0Max, nlMax)
    var nt0x = nt0xRaw; var nt0y = nt0yRaw
    val nl =
      if (nlX < nlY) {
        val f = 1 << (nlX - 1)
        val h0 = (hAct + f - 1) / f
        nt0y = (h0 + th - 1) / th
        nlX
      } else if (nlX > nlY) {
        val f = 1 << (nlY - 1)
        val w0 = (wAct + f - 1) / f
        nt0x = (w0 + tw - 1) / tw
        nlY
      } else nlX
    ((wAct, hAct), (tw, th), (nt0x, nt0y), nl)
  }

  def pow2Subdivision1d(s: Int, sMode: Int = ModeEq,
                        tsOpt: Option[Int] = None,
                        tsMin: Option[Int] = None, tsMax: Option[Int] = None,
                        nt0Max: Option[Int] = None, nlMax: Option[Int] = None): Sub =
    pow2Subdivisions1d(s, sMode, tsOpt, tsMin, tsMax, nt0Max, nlMax).head

  /** tilegrid.py:331-397 — enumerate candidates, then rank by stable
    * multi-key sort: maximize nl, minimize |ts-tsOpt|, minimize nt0,
    * minimize padding (exact sort-order port; Python's sorts are stable
    * and applied in that sequence). */
  def pow2Subdivisions1d(s: Int, sMode: Int = ModeEq,
                         tsOptIn: Option[Int] = None,
                         tsMinIn: Option[Int] = None, tsMaxIn: Option[Int] = None,
                         nt0MaxIn: Option[Int] = None, nlMaxIn: Option[Int] = None): Seq[Sub] = {
    require(s >= 1, "invalid s")
    if (tsOptIn.contains(s)) return Seq(Sub(s, s, 1, 1))
    val tsOpt = tsOptIn
    val tsMin = tsMinIn.getOrElse(math.min(s, tsOpt.map(_ / 2).getOrElse(200)))
    val tsMax = tsMaxIn.getOrElse(math.min(s, tsOpt.map(_ * 2).getOrElse(1200)))
    val nt0Max = nt0MaxIn.getOrElse(8)
    val nlMax = nlMaxIn.getOrElse(16)
    require(tsMin >= 1 && tsMax >= 1 && nt0Max >= 1 && nlMax >= 1)

    val subs = scala.collection.mutable.ArrayBuffer.empty[Sub]
    var ts = tsMin
    while (ts <= tsMax) {
      val sMaxMin = if (sMode == ModeEq || sMode == ModeGe) s else s - (ts - 1)
      val sMaxMax = if (sMode == ModeEq || sMode == ModeLe) s else s + (ts - 1)
      var nt0 = 1
      var breakNt0 = false
      while (nt0 < nt0Max && !breakNt0) {
        if (nt0 * ts > sMaxMax) breakNt0 = true
        else {
          var nl = 2
          var breakNl = false
          while (nl < nlMax && !breakNl) {
            val nt = (1 << (nl - 1)) * nt0
            val sMax = nt * ts
            var ok = false
            if (sMode == ModeGe) {
              if (sMax >= s) {
                if (sMax > sMaxMax) breakNl = true else ok = true
              }
            } else if (sMode == ModeLe) {
              if (s >= sMax && sMax >= sMaxMin) ok = true
            } else {
              if (sMax == s) ok = true
              else if (sMax > s) breakNl = true
            }
            if (ok && !breakNl) subs += Sub(sMax, ts, nt0, nl)
            nl += 1
          }
          nt0 += 1
        }
      }
      ts += 1
    }

    if (subs.isEmpty) return Seq(Sub(s, s, 1, 1))
    var ranked: Seq[Sub] = subs.toSeq.sortBy(-_.nl)
    tsOpt.foreach(o => ranked = ranked.sortBy(r => math.abs(r.ts - o)))
    ranked = ranked.sortBy(_.nt0)
    ranked = ranked.sortBy(_.sMax - s)
    ranked
  }

  /** Pyramid level-size recurrence (xcube_server/mldataset.py:21-23):
    * size at level k+1 (finer→coarser) is (size_k + 1) / 2. Returns the
    * sizes from finest (index 0) to coarsest. */
  def levelSizes(w: Int, h: Int, numLevels: Int): Seq[(Int, Int)] =
    Iterator.iterate((w, h)) { case (a, b) => ((a + 1) / 2, (b + 1) / 2) }
      .take(numLevels).toSeq
}
