package graft.pipeline

/** Pinned banded-LSH geometry — the index metadata a banded vector
  * index is BUILT under and every probe/advance must read back from the
  * store (VERDICT r14 #3). Two families:
  *
  *  - `seed = None`: the axis catalog geometry (band i = sign bits of
  *    dims [i·r+1, (i+1)·r]) — oracle-reproducible and dims-free, so
  *    `dims` is 0 by convention.
  *  - `seed = Some(_)`: the production seeded random-hyperplane
  *    geometry. `dims` is pinned HERE so every consumer — batch build,
  *    probe, advance, including over an EMPTY slice (no row to probe
  *    dims from) — derives the identical plane matrix
  *    from (seed, bands, planes, dims) alone, with no data probe and no
  *    cross-JVM drift.
  *
  * Same sidecar discipline as the pinned IVF/PQ quantizer
  * ([[VecBackbone.quantizer]]): the geometry is persisted next to the
  * postings it produced, and consumers of STORED state take the
  * geometry from the state (`VecBandedHistory.geom`), never from a JVM
  * flag — flipping a flag must never make probes disagree with stored
  * buckets. */
final case class BandedGeom(bands: Int, planes: Int,
                            seed: Option[Long], dims: Int) {
  require(bands >= 1 && bands <= 8, s"bands $bands outside [1,8]")
  require(planes >= 1 && planes <= 16, s"planes $planes outside [1,16]")
  require(seed.isEmpty || dims > 0,
    "a seeded geometry must pin dims (no data probe at read time)")

  /** Path token — distinct geometries must never share a stored dir.
    * The axis form reproduces the pre-geometry path tokens
    * (`b2r4`), so existing warehouse layouts stay valid. */
  def tag: String =
    seed.map(sd => s"b${bands}r${planes}s${sd}d$dims")
      .getOrElse(s"b${bands}r$planes")
}

object BandedGeom {
  def axis(bands: Int, planes: Int): BandedGeom =
    BandedGeom(bands, planes, None, 0)
  def seeded(bands: Int, planes: Int, seed: Long, dims: Int): BandedGeom =
    BandedGeom(bands, planes, Some(seed), dims)
}
