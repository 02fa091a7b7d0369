"""Focused pins for the round-12 ADVICE fixes (optimization round 2).

Each test pins one behavioral contract the r12 fixes introduced:
fan_out's probe guard and hash_split's temp-name collision guard.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from mimic_iv_data_pipeline_spark.engine import fan_out
from mimic_iv_data_pipeline_spark.operators.sampling import hash_split


def test_fan_out_fires_on_narrow_over_scan(spark, sf_smoke):
    df = spark.read.parquet(f"{sf_smoke}/customer.parquet").select(
        "c_custkey", "c_name"
    )
    out = fan_out(df)
    # the smoke input is a single small file -> fewer partitions than
    # defaultParallelism, so the fan must fire (a new frame) and widen
    assert out is not df
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism


def test_fan_out_skips_shuffle_derived_inputs(spark, sf_smoke):
    """ADVICE r11: df.rdd on an AQE plan with exchanges materializes
    upstream query stages the returned frame then recomputes — so
    fan_out must return shuffle-derived inputs UNPROBED (identity)."""
    base = spark.read.parquet(f"{sf_smoke}/customer.parquet")
    joined = base.join(
        base.select("c_custkey", F.col("c_name").alias("b")), "c_custkey"
    )
    assert fan_out(joined) is joined
    agg = base.groupBy("c_nationkey").count()
    assert fan_out(agg) is agg
    win = base.withColumn(
        "rk",
        F.row_number().over(
            __import__("pyspark").sql.Window.partitionBy("c_nationkey").orderBy(
                "c_custkey"
            )
        ),
    )
    assert fan_out(win) is win


def test_fan_out_not_fooled_by_expression_names(spark):
    """Expression text containing node-like words (sort_array, a column
    literally named 'Join') must not suppress the fan — the guard
    matches node heads at tree-line starts only."""
    df = (
        spark.range(0, 5, 1, 1)  # ONE input partition so the fan must fire
        .select(
            F.array(F.col("id")).alias("a"),
            F.col("id").alias("Join"),
        )
        .select(F.sort_array(F.col("a")).alias("sort_array(a)"), "Join")
    )
    out = fan_out(df)
    assert out is not df  # narrow plan over range: the probe ran and fired


def test_hash_split_temp_name_collision(spark):
    """A caller column equal to the internal temp name must survive
    with its values intact (it used to be replaced then dropped)."""
    df = spark.range(20).select(
        F.col("id"),
        F.lit("keep-me").alias("__split_u"),
    )
    out = hash_split(df, "id", {"train": 0.5, "test": 0.5})
    assert "__split_u" in out.columns
    vals = {r["__split_u"] for r in out.collect()}
    assert vals == {"keep-me"}
    # and the split itself still works / is deterministic
    assert {r["split"] for r in out.collect()} <= {"train", "test"}


def test_naive_bayes_grouping_sets_fold_matches_two_pass(spark, sf_smoke):
    """r12 optimization pin: the GROUPING SETS fold inside
    naive_bayes_scores must yield EXACTLY the two-pass statistics —
    the (token, class) count matrix rows and the per-doc token counts
    (this guards the grouping_id bit arithmetic: (__t,__y) set -> 1,
    (id) set -> 6)."""
    from pyspark.sql import functions as F

    from mimic_iv_data_pipeline_spark.operators.text import tokens

    docs = spark.read.parquet(f"{sf_smoke}/documents.parquet")
    tok = docs.select(
        F.col("doc_id"),
        F.pmod(F.xxhash64("doc_id"), F.lit(5)).alias("__y"),
        F.explode(tokens(F.col("text"))).alias("__t"),
    )
    stats = tok.groupingSets(
        [["__t", "__y"], ["doc_id"]], "__t", "__y", "doc_id"
    ).agg(F.count(F.lit(1)).cast("long").alias("__cnt"),
          F.grouping_id().alias("__gid"))
    wc_fold = {
        (r["__t"], r["__y"], r["__cnt"])
        for r in stats.filter(F.col("__gid") == 1).collect()
    }
    nd_fold = {
        (r["doc_id"], r["__cnt"])
        for r in stats.filter(F.col("__gid") == 6).collect()
    }
    wc_ref = {
        (r["__t"], r["__y"], r["__cnt"])
        for r in tok.groupBy("__t", "__y")
        .agg(F.count(F.lit(1)).cast("long").alias("__cnt"))
        .collect()
    }
    nd_ref = {
        (r["doc_id"], r["__n"])
        for r in tok.groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("__n"))
        .collect()
    }
    assert wc_fold == wc_ref and len(wc_fold) > 0
    assert nd_fold == nd_ref and len(nd_fold) > 0
    # and no third grouping id leaks through
    gids = {r["__gid"] for r in stats.select("__gid").distinct().collect()}
    assert gids == {1, 6}


def _brute_clusters(pts, radius_m):
    """Reference single-linkage closure in Python (haversine)."""
    import math

    def hav(a, b):
        (la1, lo1), (la2, lo2) = a, b
        rl1, rl2 = math.radians(la1), math.radians(la2)
        dlat = math.radians(la2 - la1) / 2
        dlon = math.radians(lo2 - lo1) / 2
        x = math.sin(dlat) ** 2 + math.cos(rl1) * math.cos(rl2) * math.sin(dlon) ** 2
        return 2 * 6_371_000.0 * math.asin(math.sqrt(x))

    parent = {i: i for i, _ in pts}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    ids = [i for i, _ in pts]
    coords = dict(pts)
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            a, b = ids[i], ids[j]
            if coords[a][0] is None or coords[b][0] is None:
                continue
            if coords[a][1] is None or coords[b][1] is None:
                continue
            if hav(coords[a], coords[b]) <= radius_m:
                union(a, b)
    out = {}
    for i in ids:
        out[i] = min(j for j in ids if find(j) == find(i))
    return out


def test_geo_clusters_clique_collapse_matches_brute_force(spark):
    """r12 optimization pin: the fine-grid clique collapse must produce
    EXACTLY the transitive-closure clusters. Adversarial shapes: a
    dense pile (the k-squared clique the collapse exists for), a chain
    crossing fine-cell boundaries (50 m steps, 100 m radius), an
    antimeridian pair, isolated singletons, and a null-longitude row
    (must stay a singleton, not pool with other nulls)."""
    pts = []
    # dense pile: 30 points within ~40 m of each other
    for k in range(30):
        pts.append((100 + k, (52.0 + k * 1e-6, 13.0 + k * 1e-6)))
    # chain: 6 points spaced ~70 m -> one cluster via transitivity
    for k in range(6):
        pts.append((200 + k, (48.0 + k * 0.00063, 8.0)))
    # antimeridian pair (~50 m apart across the seam)
    pts.append((300, (10.0, 179.9998)))
    pts.append((301, (10.0, -179.9998)))
    # isolated singletons
    pts.append((400, (-30.0, 100.0)))
    pts.append((401, (-31.0, 101.0)))
    # two null-lon rows at the same latitude: must NOT merge
    pts.append((500, (20.0, None)))
    pts.append((501, (20.0, None)))

    from mimic_iv_data_pipeline_spark.operators.geo import geo_clusters

    df = spark.createDataFrame(
        [(i, lat, lon) for i, (lat, lon) in pts],
        "id long, lat double, lon double",
    )
    want = _brute_clusters(pts, 100.0)
    # default driver_cap: the skew router sees a small clique mass and
    # takes the plain full-pair path
    got = {
        r["id"]: r["cluster_id"]
        for r in geo_clusters(df, "id", "lat", "lon", radius_m=100.0).collect()
    }
    assert got == want
    # tiny driver_cap: the router is forced onto the clique-collapse
    # path (stars + witness edges) — must agree exactly
    got_collapsed = {
        r["id"]: r["cluster_id"]
        for r in geo_clusters(
            df, "id", "lat", "lon", radius_m=100.0, driver_cap=10
        ).collect()
    }
    assert got_collapsed == want
    got = got_collapsed  # the shape assertions below pin the collapse path
    # sanity on the shapes the fixture plants
    assert len({got[100 + k] for k in range(30)}) == 1  # pile is one cluster
    assert len({got[200 + k] for k in range(6)}) == 1   # chain links up
    assert got[300] == got[301]                          # seam pair merges
    assert got[400] == 400 and got[401] == 401
    assert got[500] == 500 and got[501] == 501           # nulls stay apart


def test_geo_clusters_large_radius_fallback_matches(spark):
    """radius > 100 km takes the pre-r12 full-pair path; both paths
    must agree on a fixture that spans the guard boundary."""
    from mimic_iv_data_pipeline_spark.operators.geo import geo_clusters

    pts = [(i, 40.0 + i * 0.4, 5.0) for i in range(8)]  # ~44 km steps
    df = spark.createDataFrame(pts, "id long, lat double, lon double")
    fine = {
        r["id"]: r["cluster_id"]
        for r in geo_clusters(df, "id", "lat", "lon", radius_m=50_000.0).collect()
    }
    fallback = {
        r["id"]: r["cluster_id"]
        for r in geo_clusters(df, "id", "lat", "lon", radius_m=150_000.0).collect()
    }
    want50 = _brute_clusters([(i, (la, lo)) for i, la, lo in pts], 50_000.0)
    want150 = _brute_clusters([(i, (la, lo)) for i, la, lo in pts], 150_000.0)
    assert fine == want50
    assert fallback == want150


def test_timeseries_wide_sql_form_matches_column_algebra(spark):
    """r12: the wide densify is built from parsed SQL strings (driver-side
    py4j cost, guide §5); pin that the parsed form is PLAN-identical to
    the Column-algebra form it replaced (sameSemantics) and row-identical
    on a grid-spanning fixture, for both impute modes."""
    from mimic_iv_data_pipeline_spark.plans.timeseries import generate_timeseries

    n_buckets = 6

    def column_algebra(binned, impute):
        vcols = [
            F.max(F.when(F.col("bucket") == b, F.col("value"))).alias(f"__v{b}")
            for b in range(n_buckets)
        ]
        ncols = [
            F.max(F.when(F.col("bucket") == b, F.col("n_events"))).alias(f"__n{b}")
            for b in range(n_buckets)
        ]
        packed = binned.groupBy("stay_id", "itemid").agg(*vcols, *ncols)

        def _filled(b):
            if impute is None:
                return F.col(f"__v{b}")
            order = (
                [F.col(f"__v{i}") for i in range(b, -1, -1)]
                + [F.col(f"__v{i}") for i in range(b + 1, n_buckets)]
                + [F.lit(0.0)]
            )
            return F.coalesce(*order)

        structs = [
            F.struct(
                F.lit(b).alias("bucket"),
                _filled(b).alias("value"),
                F.coalesce(F.col(f"__n{b}"), F.lit(0)).cast("long").alias("n_events"),
            )
            for b in range(n_buckets)
        ]
        return packed.select("stay_id", "itemid", F.inline(F.array(*structs)))

    events = spark.createDataFrame(
        [
            (1, 10, 0, 1.5),   # head observed
            (1, 10, 3, 2.5),   # interior gap both sides
            (2, 11, 5, 4.0),   # only tail observed -> bfill regime
            (2, 11, 5, 6.0),   # duplicate bucket -> avg + n_events=2
        ],
        "stay_id long, itemid long, t long, valuenum double",
    )
    cohort = spark.createDataFrame(
        [(1, 100), (2, 100)], "stay_id long, los_hours long"
    )
    for impute in ("mean", None):
        got = generate_timeseries(
            events, cohort, time_col="t",
            include_hours=n_buckets, bucket_hours=1, impute=impute,
        )
        # rebuild the same bucket relation the operator feeds the pack
        binned = (
            events.join(cohort.select("stay_id"), "stay_id")
            .filter(F.col("t") <= n_buckets)
            .groupBy("stay_id", "itemid", F.col("t").alias("bucket"))
            .agg(F.avg("valuenum").alias("value"), F.count(F.lit(1)).alias("n_events"))
            .filter(F.col("bucket") < n_buckets)
        )
        want = column_algebra(binned, impute)
        assert got.schema == want.schema
        assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_schema_catalog_matches_inference_and_invalidates(spark, sf_smoke, tmp_path):
    """load_table resolves schemas through the in-process catalog
    (metadata only). Pin: same schema and rows as bare inference, the
    events nanos shim still applies, and the catalog key invalidates
    when the file changes."""
    import shutil

    from mimic_iv_data_pipeline_spark.sources import readers

    for name in ("customer", "events"):
        got = readers.load_table(spark, sf_smoke, name)
        if name == "events":
            # compare against a fresh inference through the shim: an
            # empty catalog makes load_table re-read the footer
            readers._SCHEMA_CATALOG.clear()
            want = readers.load_table(spark, sf_smoke, name)
        else:
            want = spark.read.parquet(f"{sf_smoke}/{name}.parquet")
        assert got.schema == want.schema
        assert got.count() == want.count()

    # invalidation: same path, changed content -> fresh inference
    p = tmp_path / "t.parquet"
    spark.range(3).selectExpr("id AS a").write.mode("overwrite").parquet(str(p))
    s1 = readers.load_table(spark, str(tmp_path), "t").schema
    assert s1.fieldNames() == ["a"]
    shutil.rmtree(p)
    spark.range(3).selectExpr("id AS b", "id AS c").write.mode("overwrite").parquet(
        str(p)
    )
    s2 = readers.load_table(spark, str(tmp_path), "t").schema
    assert s2.fieldNames() == ["b", "c"]
