"""Image moments: exact integer raw/central moments + principal-axis
orientation class per (image, band) — the classic shape/mass descriptors
(OpenCV `cv2.moments` parity for the integer parts), downstream of decode
and next to texture_stats in the curation stack.

Raw moments over pixel positions (r = row from the top, c = column)
weighted by value are EXACT BIGINT sums:

    m00 = Σ v      m10 = Σ c·v      m01 = Σ r·v
    m20 = Σ c²·v   m02 = Σ r²·v     m11 = Σ r·c·v

Central moments divide by m00; to stay in the driver-canon-safe integer
palette each is emitted ONCE-divided in floor fixed point:

    mu20_d = (m20·m00 − m10²)  DIV m00     (= m00 · μ20, floored)
    mu02_d = (m02·m00 − m01²)  DIV m00
    mu11_d = (m11·m00 − m10·m01) DIV m00

The intermediate products need 128-bit (m20·m00 ≤ ~6.6e20 at the
IMG_SCALE=8 maximum) — Spark DECIMAL(38,0) / DuckDB HUGEINT, the
gi_hotspots widening; the floored quotients land back in BIGINT
(≤ m20 ~ 1.3e13). Principal-axis orientation θ = ½·atan2(2μ11, μ20−μ22)
is quantized to its 45-degree class by SIGN AND MAGNITUDE comparisons on
the exact numerators a = μ20−μ02 and b = 2μ11 (scale factors cancel) —
no atan2, no floats, deterministic tie rule (boundaries |a| = |b| land
in the axis-aligned class).

Scale shape: ONE Arrow decode pass emits six bounded integers per
(image, band) — the only exchange carries those 6-number rows to a
(image_id, band) hash agg (partial per input split, map-side combined);
the central-moment algebra and orientation CASE are pure projections.
Pixels never cross an exchange, and no stage's width depends on corpus
size. Parity: extends the reference's decode surface
(crates/aira-tiff/src/decoder.rs) with the standard moment descriptors
the reference does not ship.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# orientation of the principal axis from the exact central-moment
# numerators a = mu20 - mu02, b = 2*mu11 (common positive scale cancels):
# 2*theta = atan2(b, a) quantized to 90-degree sectors => theta classes of
# 45 degrees. |a| >= |b| keeps boundaries in the axis-aligned classes.
ORIENT_CASE = """CASE
  WHEN a = 0 AND b = 0 THEN 'isotropic'
  WHEN a >= 0 AND (a >= b AND a >= -b) THEN 'E-W'
  WHEN b > 0 AND b > a AND b > -a THEN 'NE-SW'
  WHEN a < 0 AND (-a >= b AND -a >= -b) THEN 'N-S'
  ELSE 'NW-SE' END"""


def image_moments(images: DataFrame) -> DataFrame:
    """(image_id, band, m00, m10, m01, mu20_d, mu02_d, mu11_d, orient):
    exact raw + floor-fixed-point central moments and the principal-axis
    orientation class per band. All-zero bands (m00 = 0) emit the raw
    row with NULL-free zero central moments and 'isotropic'."""
    import numpy as np
    import pandas as pd

    from ..functions.udfs import decoded_images

    cols = ["image_id", "band", "m00", "m10", "m01", "m20", "m02", "m11"]

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: list[tuple] = []
            for rec, _, px in decoded_images(pdf):
                h, w = px.shape[0], px.shape[1]
                r = np.arange(h, dtype=np.int64)[:, None]
                c = np.arange(w, dtype=np.int64)[None, :]
                for s in range(px.shape[2]):
                    v = px[:, :, s].astype(np.int64)
                    vr = (v * r).sum(axis=1)  # per-row Σ_c v·r
                    vc = v * c
                    out.append((
                        rec.image_id, s,
                        int(v.sum()), int(vc.sum()),
                        int(vr.sum()),
                        int((vc * c).sum()),
                        int((v * (r * r)).sum()),
                        int((vc * r).sum()),
                    ))
            yield pd.DataFrame(out, columns=cols)

    raw = images.select("image_id", "bytes").mapInPandas(
        fn,
        schema=(
            "image_id string, band long, m00 long, m10 long, m01 long,"
            " m20 long, m02 long, m11 long"
        ),
    )
    # images arrive pre-chunked per input split; the agg is a no-op fold
    # over one partial per (image, band) but keeps the shape correct if a
    # source ever splits one image's chunks across tasks
    agg = raw.groupBy("image_id", "band").agg(
        *[F.sum(c).cast("long").alias(c) for c in cols[2:]]
    )
    d = "CAST({} AS DECIMAL(38,0))"
    nums = agg.selectExpr(
        "image_id", "band", "m00", "m10", "m01",
        f"{d.format('m20')} * m00 - {d.format('m10')} * m10 AS n20",
        f"{d.format('m02')} * m00 - {d.format('m01')} * m01 AS n02",
        f"{d.format('m11')} * m00 - {d.format('m10')} * m01 AS n11",
    ).selectExpr("*", "n20 - n02 AS a", "2 * n11 AS b")
    # div truncates toward zero in BOTH engines (Spark `div`, DuckDB `//`)
    return nums.selectExpr(
        "image_id", "band", "m00", "m10", "m01",
        "CAST(CASE WHEN m00 = 0 THEN 0 ELSE n20 DIV m00 END"
        " AS BIGINT) AS mu20_d",
        "CAST(CASE WHEN m00 = 0 THEN 0 ELSE n02 DIV m00 END"
        " AS BIGINT) AS mu02_d",
        "CAST(CASE WHEN m00 = 0 THEN 0 ELSE n11 DIV m00 END"
        " AS BIGINT) AS mu11_d",
        f"{ORIENT_CASE} AS orient",
    )


def oracle_moments_sql(bands_cte: str) -> str:
    """DuckDB mirror over the bands CTE: identical raw-moment sums over
    the pixel formula, identical 128-bit central algebra + orientation."""
    mu20 = "CAST(m20 AS HUGEINT) * m00 - CAST(m10 AS HUGEINT) * m10"
    mu02 = "CAST(m02 AS HUGEINT) * m00 - CAST(m01 AS HUGEINT) * m01"
    mu11 = "CAST(m11 AS HUGEINT) * m00 - CAST(m10 AS HUGEINT) * m01"
    return f"""
WITH {bands_cte},
vals AS (
  SELECT image_id, CAST(s AS BIGINT) AS band, r, c,
         CAST((r * 7 + c * 13 + s * 29 + k) % 256 AS BIGINT) AS v
  FROM bands
),
agg AS (
  SELECT image_id, band,
    CAST(SUM(v) AS BIGINT) AS m00,
    CAST(SUM(c * v) AS BIGINT) AS m10,
    CAST(SUM(r * v) AS BIGINT) AS m01,
    CAST(SUM(c * c * v) AS BIGINT) AS m20,
    CAST(SUM(r * r * v) AS BIGINT) AS m02,
    CAST(SUM(r * c * v) AS BIGINT) AS m11
  FROM vals GROUP BY 1, 2
),
cm AS (
  SELECT *, {mu20} AS n20, {mu02} AS n02, {mu11} AS n11 FROM agg
),
ab AS (SELECT *, n20 - n02 AS a, 2 * n11 AS b FROM cm)
SELECT image_id, band, m00, m10, m01,
  CAST(CASE WHEN m00 = 0 THEN 0 ELSE n20 // m00 END AS BIGINT) AS mu20_d,
  CAST(CASE WHEN m00 = 0 THEN 0 ELSE n02 // m00 END AS BIGINT) AS mu02_d,
  CAST(CASE WHEN m00 = 0 THEN 0 ELSE n11 // m00 END AS BIGINT) AS mu11_d,
  {ORIENT_CASE} AS orient
FROM ab"""
