"""Coastline ring assembly with antimeridian / Antarctica closure (G19).

Re-expression of the reference's shapefile ring builder
(/root/reference/osm/coastline.ml:55-113 build_rings):

- pre-closed polylines (first == last vertex) pass through;
- open polylines chain by exact endpoint match (pred/succ maps);
- a chain whose BOTH endpoints lie within 1000 fp units (1e-4°) of
  -180° snaps them to exactly -1800000000 and closes; same on +180°;
- a chain running from exactly -180° to +180° is Antarctica: closed by
  appending (+180°, +85°), (-180°, +85°), start — the reference's exact
  cap points (y axis follows its shapefile source);
- circular chains of open segments (every end continued) are closed
  directly — a strict superset of the reference, which only starts
  chains at tails and would drop these.

The chain step is inherently sequential over one connected layer; the
Spark surface runs it as one global group (the planet coastline is
~10^6 segments, driver-scale — while everything downstream stays
distributed).
"""

from __future__ import annotations

import numpy as np

from osm_spark.geo import kernels as K
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

LON_180 = K.LON_OFFSET        # +180 deg fixed-point (single source: kernels)
SNAP_EPS_LON = LON_180 - 1_000  # |lon| above this snaps to ±180°
CAP_LAT = 850_000_000


def build_rings(segments: list[tuple[np.ndarray, np.ndarray]]):
    """[(lon, lat)] open/closed polylines -> [(lon, lat)] closed rings
    (coastline.ml:55-113 semantics, int64 fixed-point)."""
    closed = []
    open_segs = []
    for lo, la in segments:
        lo = np.asarray(lo, np.int64)
        la = np.asarray(la, np.int64)
        if lo[0] == lo[-1] and la[0] == la[-1]:
            closed.append((lo, la))
        else:
            open_segs.append((lo, la))

    pred: dict[tuple[int, int], int] = {}
    for i, (lo, la) in enumerate(open_segs):
        pred[(int(lo[-1]), int(la[-1]))] = i
    starts = {(int(lo[0]), int(la[0])) for lo, la in open_segs}

    used = [False] * len(open_segs)

    def follow(i):
        """Walk pred links back from segment i, return concatenated
        head..tail chain."""
        chain = []
        while True:
            used[i] = True
            lo, la = open_segs[i]
            chain.append((lo, la))
            head = (int(lo[0]), int(la[0]))
            j = pred.get(head)
            if j is None or used[j]:
                break
            i = j
        chain.reverse()
        los = [chain[0][0]] + [c[0][1:] for c in chain[1:]]
        las = [chain[0][1]] + [c[1][1:] for c in chain[1:]]
        return np.concatenate(los), np.concatenate(las)

    def close_chain(lo, la):
        lo = lo.copy()
        la = la.copy()
        if lo[0] < -SNAP_EPS_LON and lo[-1] < -SNAP_EPS_LON:
            lo[0] = lo[-1] = -LON_180
        elif lo[0] > SNAP_EPS_LON and lo[-1] > SNAP_EPS_LON:
            lo[0] = lo[-1] = LON_180
        elif lo[0] == -LON_180 and lo[-1] == LON_180:  # Antarctica
            lo = np.concatenate([lo, [LON_180, -LON_180, lo[0]]])
            la = np.concatenate([la, [CAP_LAT, CAP_LAT, la[0]]])
            return lo, la
        elif lo[0] == LON_180 and lo[-1] == -LON_180:
            # Antarctica chain in the reversed orientation (the
            # reference only ever sees -180 -> +180, but real split
            # extracts can present either): reverse then close as above.
            lo, la = lo[::-1].copy(), la[::-1].copy()
            lo = np.concatenate([lo, [LON_180, -LON_180, lo[0]]])
            la = np.concatenate([la, [CAP_LAT, CAP_LAT, la[0]]])
            return lo, la
        elif lo[0] == lo[-1] and la[0] == la[-1]:      # circular chain
            return lo, la
        else:
            raise ValueError(
                f"unclosable coastline chain: ({lo[0]},{la[0]}) .. "
                f"({lo[-1]},{la[-1]})")
        return np.append(lo, lo[0]), np.append(la, la[0])

    rings = list(closed)
    for i, (lo, la) in enumerate(open_segs):
        tail = (int(lo[-1]), int(la[-1]))
        if tail not in starts:              # chain tail — walk backwards
            rings.append(close_chain(*follow(i)))
    for i in range(len(open_segs)):         # leftover circular chains
        if not used[i]:
            rings.append(close_chain(*follow(i)))
    return rings


RINGS_SCHEMA = "group long, ring_idx int, n_pts int, lats array<long>, lons array<long>"


def assemble_coastline(segments: DataFrame) -> DataFrame:
    """(seg_id, lats, lons) -> closed coastline rings
    (group, ring_idx, n_pts, lats, lons), all in group 0."""
    df = segments.withColumn("group", F.lit(0))

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        if "seg_id" in pdf.columns:      # deterministic ring numbering
            pdf = pdf.sort_values("seg_id")
        segs = [(np.asarray(lo, np.int64), np.asarray(la, np.int64))
                for lo, la in zip(pdf["lons"], pdf["lats"])]
        rings = build_rings(segs)
        return pd.DataFrame({
            "group": [int(pdf["group"].iloc[0])] * len(rings),
            "ring_idx": pd.array(range(len(rings)), dtype="int32"),
            "n_pts": pd.array([len(lo) for lo, _ in rings], dtype="int32"),
            "lats": [la.tolist() for _, la in rings],
            "lons": [lo.tolist() for lo, _ in rings],
        })

    return df.groupBy("group").applyInPandas(fn, RINGS_SCHEMA)
