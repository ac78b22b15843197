"""Advanced coverage: GeoJSON FeatureCollection emit (K5), grouped-map
pandas UDF normalization (§2.11), approximate distinct (Phase 8).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import load_table
from ..sources.tables import spread
from . import register


@register(
    "geojson_features_emit",
    oracle="""
    SELECT c_custkey AS id,
           to_json(struct_pack(
             type := 'Feature',
             id := 'C' || CAST(c_custkey AS VARCHAR),
             geometry := struct_pack(
               type := 'Point',
               coordinates := [CAST((c_custkey % 60) - 30 + 0.5 AS DOUBLE),
                               CAST((c_custkey % 40) - 20 + 0.5 AS DOUBLE)]
             ),
             properties := struct_pack(segment := c_mktsegment, name := c_name)
           ))::VARCHAR AS feature_json
    FROM customer
    """,
    doc="K5 GeoJSON Feature assembly + to_json (ref power-outages/server.js:398-416): struct build with explicit field order so the JSON text is canonical — byte-identical across engines and hash-checkable.",
)
def geojson_features_emit(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    # properties is a STRUCT, not a map: struct field order is part of
    # the schema, making the emitted JSON canonical (map key order
    # would be engine-dependent and unhashable)
    feature = F.struct(
        F.lit("Feature").alias("type"),
        F.concat(F.lit("C"), F.col("c_custkey").cast("string")).alias("id"),
        F.struct(
            F.lit("Point").alias("type"),
            F.array(
                ((F.col("c_custkey") % 60) - 30 + 0.5).cast("double"),
                ((F.col("c_custkey") % 40) - 20 + 0.5).cast("double"),
            ).alias("coordinates"),
        ).alias("geometry"),
        F.struct(
            F.col("c_mktsegment").alias("segment"),
            F.col("c_name").alias("name"),
        ).alias("properties"),
    )
    return cust.select(
        F.col("c_custkey").alias("id"), F.to_json(feature).alias("feature_json")
    )


@register(
    "zscore_by_segment",
    oracle="""
    SELECT c_custkey, c_mktsegment,
           ROUND((c_acctbal - avg(c_acctbal) OVER (PARTITION BY c_mktsegment))
                 / stddev_samp(c_acctbal) OVER (PARTITION BY c_mktsegment), 4) AS zscore
    FROM customer
    """,
    doc="§2.11 grouped-map normalization via applyInPandas (SNIPPETS pattern), oracled by the equivalent SQL window — the pandas path must reproduce SQL semantics exactly.",
)
def zscore_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = spread(load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment", "c_acctbal"))

    def normalize(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        # ddof=1 (sample stddev) matches stddev_samp; a 1-row segment
        # gives NaN std -> emit NULL like the SQL window's NULL
        z = (pdf["c_acctbal"] - pdf["c_acctbal"].mean()) / pdf["c_acctbal"].std(ddof=1)
        # half-AWAY-from-zero to match SQL ROUND on the signed range;
        # Series.round is banker's (half-even) and differs on exact
        # decimal halves
        zq = np.copysign(np.floor(np.abs(z) * 1e4 + 0.5) / 1e4, z)
        zq = np.where(np.isnan(z), None, zq)
        return pd.DataFrame(
            {"c_custkey": pdf["c_custkey"], "c_mktsegment": pdf["c_mktsegment"], "zscore": zq}
        )

    return cust.groupBy("c_mktsegment").applyInPandas(
        normalize, schema="c_custkey bigint, c_mktsegment string, zscore double"
    )


@register(
    "approx_distinct_users",
    oracle=None,  # HLL sketch values are engine-specific by nature; exact-distinct parity is covered by recent_activity_24h
    doc="Phase 8 approximate aggregate: approx_count_distinct (HLL++) per event_type with 1% rsd, next to the exact count for error inspection.",
)
def approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.01).alias("approx_users"),
        F.count_distinct("user_id").alias("exact_users"),
    )


@register(
    "salted_user_rollup",
    oracle="""
    SELECT user_id, COUNT(*) AS total_events,
           CAST(SUM(CAST(FLOOR((value)*1000000 + 0.5) AS BIGINT)) AS DOUBLE)/1000000 AS total_value,
           MAX(ts) AS last_seen, MIN(ts) AS first_seen
    FROM events GROUP BY user_id
    """,
    doc="Skew-salted two-stage aggregation (§4 scale design): partials on (key, salt) then merge — must equal the plain GROUP BY exactly (decimal sums are salt-order-independent).",
)
def salted_user_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.aggregations import fixed_point
    from ..operators.skew import salted_aggregate

    # fixed-point quantization (same FLOOR form as the oracle) keeps
    # the salted two-stage sum exact and salt-order-independent
    ev = load_table(spark, sf_dir, "events").withColumn("__v", fixed_point(F.col("value")))
    out = salted_aggregate(
        ev,
        ["user_id"],
        {
            "total_events": ("count", "value"),
            "total_value_dec": ("sum", "__v"),
            "last_seen": ("max", "ts"),
            "first_seen": ("min", "ts"),
        },
        salt_buckets=8,
    )
    return out.select(
        "user_id",
        "total_events",
        (F.col("total_value_dec").cast("double") / F.lit(1e6)).alias("total_value"),
        "last_seen",
        "first_seen",
    )


@register(
    "tile_pipeline_stats",
    oracle=None,  # binary tile pipeline; per-channel means are verified against numpy ground truth in tests/test_multimodal.py
    doc="R1/R2-family end-to-end: synthesize deterministic tiles from keys, palette-remap (dBZ LUT), extract per-channel stats — the multimodal binary-column pipeline as a judged query.",
)
def tile_pipeline_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from collections.abc import Iterator

    from ..pipeline.multimodal import palette_remap, synth_tile, tile_stats

    keys = load_table(spark, sf_dir, "supplier").select(
        F.lit(7).alias("z"), (F.col("s_suppkey") % 16).cast("int").alias("x"), (F.col("s_suppkey") % 8).cast("int").alias("y")
    ).distinct()

    def make_tiles(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "z": pdf["z"],
                    "x": pdf["x"],
                    "y": pdf["y"],
                    "data": [synth_tile(int(z), int(x), int(y)) for z, x, y in zip(pdf["z"], pdf["x"], pdf["y"])],
                }
            )

    tiles = spread(keys, min_bytes=0).mapInPandas(make_tiles, schema="z int, x int, y int, data binary")
    return tile_stats(palette_remap(tiles)).select(
        "z", "x", "y", "width", "height", F.round("mean_r", 4).alias("mean_r"), F.round("mean_alpha", 4).alias("mean_alpha")
    )


@register(
    "audio_features_pipeline",
    oracle=None,  # PCM feature extraction; values verified against sine ground truth in tests/test_multimodal.py
    doc="Audio binary-column pipeline as a judged query: synthesize PCM16 clips from keys, extract RMS/peak/zero-crossings via mapInPandas.",
)
def audio_features_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from collections.abc import Iterator

    from ..pipeline.multimodal import audio_features, synth_audio

    keys = load_table(spark, sf_dir, "supplier").select(F.col("s_suppkey").alias("clip_id"), F.lit(8000).alias("sample_rate"))

    def make_clips(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "clip_id": pdf["clip_id"],
                    "sample_rate": pdf["sample_rate"],
                    "data": [synth_audio(int(c), seconds=0.25) for c in pdf["clip_id"]],
                }
            )

    clips = spread(keys, min_bytes=0).mapInPandas(make_clips, schema="clip_id bigint, sample_rate int, data binary")
    return audio_features(clips).select(
        "clip_id", "n_samples", F.round("rms", 4).alias("rms"), "zero_crossings"
    )


@register(
    "terrain_reproject_pipeline",
    oracle=None,  # binary raster pipeline; byte-exact parity with a scalar transcription of the reference algorithm is asserted in tests/test_terrain.py
    doc="R3 full reprojection resample as a judged query: synthesize mercator Terrain-RGB tiles + a synthetic .gtx geoid grid, reproject each EPSG:4326 output tile per-pixel (4326→3857 nearest-neighbor + bilinear geoid add, ref terrain-proxy/server.js:200-278), emit per-tile elevation stats.",
)
def terrain_reproject_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from collections.abc import Iterator

    import numpy as np

    from ..pipeline.multimodal import reproject_terrain_tiles, synth_terrain_tile
    from ..sources.gtx import GtxGrid

    # 4326 output tiles over the geoid footprint (NZ-ish: lat ~-45,
    # lon ~168 → x≈123, y≈48 at z=6), keyed off the supplier table so
    # the spec scales with sf
    oz = 6
    x0, y0 = 123, 47
    spec = (
        load_table(spark, sf_dir, "supplier")
        .select(
            F.lit(oz).alias("z"),
            (F.lit(x0) + (F.col("s_suppkey") % 3)).cast("int").alias("x"),
            (F.lit(y0) + (F.col("s_suppkey") % 2)).cast("int").alias("y"),
        )
        .distinct()
    )
    # source mercator tiles: cover the spec window's z+1 demand,
    # derived with the same bounds math the operator uses
    from ..pipeline.multimodal import TERRAIN_TILE_SIZE, _latlon_tile_bounds

    mz = oz + 1
    ts = TERRAIN_TILE_SIZE
    world = ts * (2**mz)
    lat_min, _, lon_min, _ = _latlon_tile_bounds(oz, x0, y0 + 1)
    _, lat_max, _, lon_max = _latlon_tile_bounds(oz, x0 + 2, y0)

    def _merc_y(lat: float) -> float:
        return (1 - np.log(np.tan(np.pi / 4 + np.radians(lat) / 2)) / np.pi) / 2 * world

    xs = range(int((lon_min + 180) / 360 * world // ts), int((lon_max + 180) / 360 * world // ts) + 1)
    ys = range(int(_merc_y(lat_max) // ts), int(_merc_y(lat_min) // ts) + 1)
    src_rows = [(mz, x, y, synth_terrain_tile(mz, x, y)) for x in xs for y in ys]
    src = spark.createDataFrame(src_rows, "z int, x int, y int, data binary")
    lat = np.arange(20)
    lon = np.arange(30)
    geoid = GtxGrid(
        lat_min=-50.0,
        lon_min=160.0,
        dlat=0.5,
        dlon=0.5,
        values=(10.0 + 0.5 * lat[:, None] + 0.25 * lon[None, :]).astype(np.float32),
    )
    out = reproject_terrain_tiles(spec, src, geoid=geoid)
    return out.select(
        "z", "x", "y", "src_tiles", F.round("min_elev", 1).alias("min_elev"), F.round("max_elev", 1).alias("max_elev")
    ).orderBy("z", "x", "y")


@register(
    "salted_join_segment_revenue",
    oracle="""
    SELECT c_mktsegment, COUNT(*) AS n_orders,
           CAST(SUM(CAST(FLOOR((o_totalprice)*1000000 + 0.5) AS BIGINT)) AS DOUBLE)/1000000 AS revenue
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
    doc="Skew-safe salted equi-join (§4 scale design): the dim side is replicated over "
    "salt buckets and the fact side scattered deterministically across them, spreading a "
    "hot key over salt_buckets tasks — the explicit fallback when the dim can't "
    "broadcast and AQE's skew split can't bite. Must equal the plain join exactly "
    "(oracle is the unsalted join).",
)
def salted_join_segment_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.aggregations import dsum
    from ..operators.skew import salted_join

    orders = load_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    joined = salted_join(orders, cust, "o_custkey", salt_buckets=8)
    return joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_orders"), dsum("o_totalprice", "revenue")
    )


@register(
    "image_phash_near_dups",
    oracle=None,  # aHash over fake-codec binary tiles; losslessness vs brute-force hamming is asserted in tests/test_multimodal.py
    doc=(
        "Image near-dup detection as a judged query: synthesize tiles "
        "(with planted almost-identical twins), aHash each to 64 bits "
        "via mapInPandas, then find pairs within hamming distance 6 by "
        "multi-index chunk joins (lossless by pigeonhole — no "
        "all-pairs). The sketch table is 8 B/image: the image analog "
        "of minhash-LSH, with pixels never leaving the scan task."
    ),
)
def image_phash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from collections.abc import Iterator

    from ..pipeline.multimodal import decode_tile, encode_tile, perceptual_hash, phash_near_dups, synth_tile

    keys = (
        load_table(spark, sf_dir, "supplier")
        .select(
            F.lit(7).alias("z"),
            (F.col("s_suppkey") % 16).cast("int").alias("x"),
            (F.col("s_suppkey") % 8).cast("int").alias("y"),
        )
        .distinct()
    )

    def make_tiles(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            rows = {"z": [], "x": [], "y": [], "data": []}
            for z, x, y in zip(pdf["z"], pdf["x"], pdf["y"]):
                z, x, y = int(z), int(x), int(y)
                base = synth_tile(z, x, y)
                rows["z"].append(z); rows["x"].append(x); rows["y"].append(y)
                rows["data"].append(base)
                if x % 4 == 0:  # planted twin: tiny perturbation, stored at z+1
                    arr = decode_tile(base).copy()
                    arr[::16, ::16, 0] = np.minimum(arr[::16, ::16, 0] + 3, 255)
                    rows["z"].append(z + 1); rows["x"].append(x); rows["y"].append(y)
                    rows["data"].append(encode_tile(arr))
            yield pd.DataFrame(rows)

    tiles = spread(keys, min_bytes=0).mapInPandas(make_tiles, schema="z int, x int, y int, data binary")
    return phash_near_dups(perceptual_hash(tiles), max_hamming=6, bands=8).orderBy("id_a", "id_b")
