"""Seeded input generators for the benchmark (DuckDB, hash-based).

Every value is a pure function of (seed, row key, salt) through DuckDB's
`hash()`, never of `random()` or of how the engine partitions the work, so
the same seed always yields byte-identical tables. Each generator writes
parquet files plus `expected.json`, the ground truth the benchmark's output
checks compare against (counts come from the generator's own tables, never
from the engine under test).

Usage: python3 gen.py <ates|corpus|tpch> <seed> <size> <outDir>
"""
import json
import os
import shutil
import sys
import time

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# size name -> generator parameters
SIZES = {
    "ates": {"full": {"areas": 500}, "smoke": {"areas": 12}},
    "corpus": {"full": {"docs": 15000, "eval_docs": 100},
               "smoke": {"docs": 1500, "eval_docs": 40}},
    "tpch": {"full": {"sf": 0.02}, "smoke": {"sf": 0.002}},
}


def connect(seed, tmp):
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute("SET memory_limit = '2GB'")
    con.execute(f"SET temp_directory = '{tmp}'")
    con.execute("SET preserve_insertion_order = true")
    # u(a, b, salt): uniform double in [0, 1); i(a, b, salt, n): int in [0, n).
    # The outer hash() mixes the combined argument hash, whose top bits
    # would otherwise correlate across salts.
    con.execute(f"""CREATE MACRO u(a, b, salt) AS
        (hash(hash({seed}::BIGINT, a, b, salt)) >> 11)::DOUBLE / 9007199254740992.0""")
    con.execute("CREATE MACRO i(a, b, salt, n) AS floor(u(a, b, salt) * n)::BIGINT")
    return con


def copy(con, sql, path):
    con.execute(f"COPY ({sql}) TO '{path}' (FORMAT PARQUET)")


# ---------------------------------------------------------------------------
# ATES world: the 7 relations of the reference's avalanche-terrain database
# ---------------------------------------------------------------------------

def gen_ates(con, p, out):
    a = p["areas"]
    def pt(x, y):
        return f"{{'kind': 'Point', 'coordinates': [[[[{x}, {y}]]]]}}"
    con.execute(f"""CREATE TABLE area AS
        SELECT id, round(-125 + 10 * u(id, 0, 'ax'), 4) AS x0,
               round(49 + 5 * u(id, 0, 'ay'), 4) AS y0,
               10 + i(id, 0, 'npoi', 21) AS n_poi,
               4 + i(id, 0, 'nroad', 9) AS n_road,
               30 + i(id, 0, 'npath', 41) AS n_path,
               8 + i(id, 0, 'ndp', 15) AS n_dp,
               20 + i(id, 0, 'nzone', 25) AS n_zone
        FROM range(1, {a} + 1) t(id)""")

    # Geometry is written through pyarrow: DuckDB emits one flat row per
    # vertex, sorted, and the nested coordinates array is assembled from
    # offsets (DuckDB builds nested lists far more slowly). Every geometry is
    # a list of polygons of one ring each (GeoFunctions' uniform layout):
    # a point is one 1-vertex ring, a line one open ring, a multipolygon
    # several rings.
    def write_geo(table, attrs_sql, verts_sql):
        """attrs_sql: one row per feature with `id` and `kind`, sorted by id;
        verts_sql: (id, part, k, x, y) per vertex."""
        attrs = con.execute(attrs_sql).arrow()
        v = con.execute(f"SELECT id, part, round(x, 6) AS x, round(y, 6) AS y "
                        f"FROM ({verts_sql}) ORDER BY id, part, k").arrow()
        vid, part = v.column("id").to_numpy(), v.column("part").to_numpy()
        xy = np.empty(2 * v.num_rows)
        xy[0::2], xy[1::2] = v.column("x").to_numpy(), v.column("y").to_numpy()
        points = pa.ListArray.from_arrays(
            pa.array(np.arange(0, 2 * v.num_rows + 1, 2, dtype=np.int32)), pa.array(xy))
        new_ring = np.flatnonzero((np.diff(vid) != 0) | (np.diff(part) != 0)) + 1
        rings = pa.ListArray.from_arrays(pa.array(np.concatenate(
            [[0], new_ring, [v.num_rows]]).astype(np.int32)), points)
        ring_id = vid[np.concatenate([[0], new_ring])]
        new_geom = np.flatnonzero(np.diff(ring_id) != 0) + 1
        polygons = pa.ListArray.from_arrays(
            pa.array(np.arange(len(ring_id) + 1, dtype=np.int32)), rings)
        coords = pa.ListArray.from_arrays(pa.array(np.concatenate(
            [[0], new_geom, [len(ring_id)]]).astype(np.int32)), polygons)
        ids = attrs.column("id").to_numpy()
        assert np.array_equal(ids, ring_id[np.concatenate([[0], new_geom])]), table
        geom = pa.StructArray.from_arrays(
            [attrs.column("kind").combine_chunks(), coords], names=["kind", "coordinates"])
        pq.write_table(attrs.drop(["kind"]).append_column("geom", geom),
                       f"{out}/{table}.parquet")

    def ring(rows_sql, r, salt, part=0):
        """Closed ring (first vertex repeated last) of n vertices at radius
        r * [0.7, 1) around (cx, cy)."""
        return f"""SELECT id, {part} AS part, k,
            cx + {r} * (0.7 + 0.3 * u(id, k % n, '{salt}x')) * cos(2 * pi() * (k % n) / n) AS x,
            cy + {r} * (0.7 + 0.3 * u(id, k % n, '{salt}y')) * sin(2 * pi() * (k % n) / n) AS y
            FROM (SELECT *, unnest(range(n + 1)) AS k FROM ({rows_sql}))"""

    def line(rows_sql, salt):
        """Polyline of n vertices walking north-east from (cx, cy)."""
        return f"""SELECT id, 0 AS part, k,
            cx + 0.0004 * k + 0.0002 * u(id, k, '{salt}x') AS x,
            cy + 0.0003 * k + 0.0002 * u(id, k, '{salt}y') AS y
            FROM (SELECT *, unnest(range(n)) AS k FROM ({rows_sql}))"""

    write_geo("areas_vw", """SELECT id,
        CASE WHEN id % 97 = 5 THEN 'Rogers Pass & <Glacier>'
             WHEN id % 89 = 3 THEN 'L''Étoile "Nord"'
             ELSE 'Area ' || id END AS name, 'Polygon' AS kind
        FROM area ORDER BY id""",
        ring("SELECT id, x0 AS cx, y0 AS cy, 32 AS n FROM area", 0.05, "ar"))

    # per-area child rows: id = area * 1000 + k, k < n_<table>
    def children(table, n_col):
        con.execute(f"""CREATE TABLE {table} AS
            SELECT area.id * 1000 + k AS id, area.id AS area_id, k, x0, y0
            FROM (SELECT *, unnest(range({n_col})) AS k FROM area) area""")

    poi_types = "['Parking', 'Cabin', 'Destination', 'Rescue Cache', 'Lake', 'Mountain', 'Other']"
    children("poi", "n_poi")
    write_geo("points_of_interest", f"""SELECT id, area_id,
        CASE WHEN u(id, 0, 'pn') < 0.05 THEN 'Bob''s Hut & <Annex> #' || k
             ELSE typ || ' ' || k END AS name,
        typ AS type,
        CASE WHEN u(id, 0, 'pc') < 0.3 THEN NULL
             WHEN u(id, 0, 'pc') < 0.4 THEN 'steep & icy <careful>'
             ELSE 'note ' || k END AS comments, 'Point' AS kind
        FROM (SELECT *, {poi_types}[1 + i(id, 0, 'pt', 7)] AS typ FROM poi) ORDER BY id""",
        """SELECT id, 0 AS part, 0 AS k, x0 + 0.04 * u(id, 0, 'px') - 0.02 AS x,
           y0 + 0.04 * u(id, 0, 'py') - 0.02 AS y FROM poi""")

    children("road", "n_road")
    write_geo("access_roads", """SELECT id, area_id,
        CASE WHEN u(id, 0, 'rd') < 0.1 THEN NULL
             WHEN u(id, 0, 'rd') < 0.2 THEN 'Spur & branch'
             ELSE 'Forest service road ' || k END AS description, 'LineString' AS kind
        FROM road ORDER BY id""",
        line("""SELECT id, x0 - 0.03 + 0.01 * u(id, 0, 'rx') AS cx,
             y0 - 0.03 + 0.01 * u(id, 0, 'ry') AS cy, 10 + i(id, 0, 'rn', 21) AS n
             FROM road""", "r"))

    children("path", "n_path")
    write_geo("avalanche_paths", """SELECT id, area_id,
        CASE WHEN u(id, 0, 'at') < 0.1 THEN 'Untitled Path'
             ELSE 'Path ' || (k // 10) || '.' || (k % 10) END AS name, 'LineString' AS kind
        FROM path ORDER BY id""",
        line("""SELECT id, x0 - 0.02 + 0.04 * u(id, 0, 'ax') AS cx,
             y0 - 0.02 + 0.04 * u(id, 0, 'ay') AS cy, 8 + i(id, 0, 'an', 9) AS n
             FROM path""", "a"))

    # Decision points sit on a per-area grid, so geometries are distinct
    # within an area.
    children("dp", "n_dp")
    write_geo("decision_points", """SELECT id, area_id,
        CASE WHEN u(id, 0, 'dn') < 0.05 THEN 'DP <' || k || '> & co' ELSE 'DP ' || k END AS name,
        CASE WHEN u(id, 0, 'dc') < 0.3 THEN NULL ELSE 'exposed slope ' || k END AS comments,
        'Point' AS kind
        FROM dp ORDER BY id""",
        """SELECT id, 0 AS part, 0 AS k, x0 + 0.001 * (k % 5) AS x,
           y0 + 0.001 * (k // 5) AS y FROM dp""")

    # 0-3 concerns and 0-3 managing-risk items per point; about 1 in 16
    # points has neither and so drops out of the inner warnings join.
    warn = ("['Steep convex roll', 'Wind loading', 'Terrain trap below', "
            "'Cornice hazard & overhead exposure', 'Slope > 35 degrees', "
            "'Don''t linger <here>']")
    risk = ("['Stick to the ridge', 'Travel one at a time', "
            "'Use the low-angle exit', 'Regroup in safe spots & spot each other']")
    copy(con, f"""SELECT decision_point_id, warning, type FROM (
          SELECT id AS decision_point_id, {warn}[1 + i(id, j, 'wc', 6)] AS warning,
            'Concern' AS type, j
          FROM (SELECT *, unnest(range(i(id, 0, 'nc', 4))) AS j FROM dp)
          UNION ALL
          SELECT id, {risk}[1 + i(id, j, 'wr', 4)], 'Managing risk', 10 + j
          FROM (SELECT *, unnest(range(i(id, 0, 'nr', 4))) AS j FROM dp))
        ORDER BY decision_point_id, j""", f"{out}/decision_points_warnings.parquet")

    # 15% of zones are two-part MultiPolygons
    children("zone0", "n_zone")
    con.execute("""CREATE TABLE zone AS SELECT *,
        x0 - 0.03 + 0.06 * u(id, 0, 'zx') AS cx, y0 - 0.03 + 0.06 * u(id, 0, 'zy') AS cy,
        8 + i(id, 0, 'zn', 13) AS n, u(id, 0, 'zm') < 0.15 AS multi FROM zone0""")
    write_geo("zones", """SELECT id, area_id, 1 + i(id, 0, 'cc', 3)::INTEGER AS class_code,
        CASE WHEN u(id, 0, 'zc') < 0.25 THEN NULL
             WHEN u(id, 0, 'zc') < 0.35 THEN 'complex <steep> & serious'
             ELSE 'zone ' || k END AS comments,
        CASE WHEN multi THEN 'MultiPolygon' ELSE 'Polygon' END AS kind
        FROM zone ORDER BY id""",
        ring("SELECT id, cx, cy, n FROM zone", 0.004, "z") + " UNION ALL " +
        ring("SELECT id, cx + 0.01 AS cx, cy, 6 AS n FROM zone WHERE multi", 0.002, "m", 1))

    # Ground truth, read back from the written files.
    def q(sql):
        return con.execute(sql).fetchall()
    rd = lambda t: f"read_parquet('{out}/{t}.parquet')"
    # warnify keys on geometry: one placemark per distinct warned geometry
    warned = f"""(SELECT DISTINCT d.area_id, d.geom FROM {rd('decision_points')} d
                  SEMI JOIN {rd('decision_points_warnings')} w
                  ON w.decision_point_id = d.id)"""
    per_area = {}
    for t in ["points_of_interest", "access_roads", "avalanche_paths", "zones"]:
        for aid, n in q(f"SELECT area_id, count(*) FROM {rd(t)} GROUP BY 1"):
            per_area.setdefault(aid, {})[t] = n
    for aid, n in q(f"SELECT area_id, count(*) FROM {warned} GROUP BY 1"):
        per_area.setdefault(aid, {})["decision_points"] = n
    tables = {t: q(f"SELECT count(*) FROM {rd(t)}")[0][0] for t in
              ["areas_vw", "points_of_interest", "access_roads", "avalanche_paths",
               "decision_points", "decision_points_warnings", "zones"]}
    # features per table over the whole world (warnify merges equal
    # geometries across areas too)
    table_features = {t: tables[t] for t in
                      ["areas_vw", "points_of_interest", "access_roads", "avalanche_paths", "zones"]}
    table_features["decision_points"] = q(
        f"SELECT count(DISTINCT geom) FROM {warned}")[0][0]
    features = {str(aid): 1 + sum(per_area.get(aid, {}).values())
                for aid in range(1, a + 1)}
    return {"areas": a, "features_per_area": features, "table_features": table_features,
            "table_rows": tables, "features": sum(table_features.values())}


# ---------------------------------------------------------------------------
# Documents corpus with planted duplicates and planted contamination
# ---------------------------------------------------------------------------

def gen_corpus(con, p, out):
    n, ne = p["docs"], p["eval_docs"]
    syl = "['ka', 'lo', 'mi', 'ne', 'ru', 'sa', 'ti', 'vo', 'be', 'da', 'fu', 'go', 'pe', 'zu', 'ha', 'yo']"
    # Zipfian vocabulary of 4000 pseudo-words; the eval benchmark draws from
    # a disjoint vocabulary so only planted passages overlap it.
    con.execute(f"""CREATE TABLE vocab AS SELECT list(w ORDER BY r) AS ws FROM (
        SELECT r, {syl}[1 + r % 16] || {syl}[1 + (r // 16) % 16] ||
                  CASE WHEN r >= 256 THEN {syl}[1 + (r // 256) % 16] ELSE '' END AS w
        FROM range(4000) t(r))""")
    con.execute("CREATE TABLE evocab AS SELECT list('q' || w || 'q') AS ws FROM (SELECT unnest(ws) AS w FROM vocab)")
    zipf = "1 + least(3999, floor(exp(u({key}, k, '{salt}') * ln(4000)))::BIGINT - 1)"
    con.execute(f"""CREATE TABLE base AS SELECT doc_id,
        array_to_string(list_transform(range(
            (20 + floor(180 * u(doc_id, 0, 'len') * u(doc_id, 1, 'len')))::BIGINT),
          k -> ws[{zipf.format(key='doc_id', salt='w')}]), ' ') AS text,
        ['en', 'en', 'en', 'en', 'en', 'zh', 'zh', 'de', 'fr', 'es'][1 + i(doc_id, 0, 'lang', 10)] AS lang,
        'src' || i(doc_id, 0, 'src', 8) AS source
        FROM range({n}) t(doc_id), vocab""")
    con.execute(f"""CREATE TABLE evalset AS SELECT doc_id,
        array_to_string(list_transform(range(60),
          k -> ws[{zipf.format(key='doc_id', salt='e')}]), ' ') AS text
        FROM range({ne}) t(doc_id), evocab""")

    # planted clusters: 2% of docs get 1-2 exact copies, 3% get 1-2
    # near-copies with one word in twenty changed, 0.5% embed a 15-word
    # passage of an eval document (contamination)
    con.execute(f"""CREATE TABLE planted AS
        SELECT {n} + row_number() OVER (ORDER BY b.doc_id, c) - 1 AS doc_id,
               b.doc_id AS cluster, 'exact' AS kind, b.text, b.lang, b.source
        FROM (SELECT *, unnest(range(1 + i(doc_id, 0, 'ec', 2))) AS c FROM base) b
        WHERE u(b.doc_id, 0, 'exact') < 0.02""")
    con.execute(f"""INSERT INTO planted
        SELECT (SELECT max(doc_id) + 1 FROM planted) +
                 row_number() OVER (ORDER BY b.doc_id, c) - 1,
               b.doc_id, 'near',
               array_to_string(list_transform(string_split(b.text, ' '),
                 (w, k) -> CASE WHEN u(b.doc_id * 8 + c, k, 'edit') < 0.05
                   THEN ws[1 + i(b.doc_id * 8 + c, k, 'rw', 4000)]
                   ELSE w END), ' '),
               b.lang, b.source
        FROM (SELECT *, unnest(range(1 + i(doc_id, 0, 'nc', 2))) AS c FROM base) b, vocab
        WHERE u(b.doc_id, 0, 'exact') >= 0.02 AND u(b.doc_id, 0, 'near') < 0.03
          AND length(b.text) > 150""")
    con.execute(f"""CREATE TABLE contaminated AS
        SELECT b.doc_id, b.text || ' ' || array_to_string(
                 list_slice(string_split(e.text, ' '), 1 + i(b.doc_id, 0, 'off', 40),
                            15 + i(b.doc_id, 0, 'off', 40)), ' ') AS text
        FROM base b JOIN evalset e ON e.doc_id = i(b.doc_id, 0, 'ev', {ne})
        WHERE u(b.doc_id, 0, 'exact') >= 0.02 AND u(b.doc_id, 0, 'near') >= 0.03
          AND u(b.doc_id, 0, 'cont') < 0.005""")
    copy(con, """SELECT doc_id, text, lang, source, length(text)::BIGINT AS n_chars FROM (
          SELECT b.doc_id, coalesce(c.text, b.text) AS text, b.lang, b.source
          FROM base b LEFT JOIN contaminated c USING (doc_id)
          UNION ALL SELECT doc_id, text, lang, source FROM planted)
        ORDER BY doc_id""", f"{out}/documents.parquet")
    copy(con, "SELECT doc_id, text FROM evalset ORDER BY doc_id", f"{out}/eval.parquet")
    copy(con, """SELECT doc_id, cluster, kind FROM planted
        UNION ALL SELECT cluster, cluster, kind FROM (SELECT DISTINCT cluster, kind FROM planted)
        UNION ALL SELECT doc_id, doc_id, 'contaminated' FROM contaminated
        ORDER BY kind, cluster, doc_id""", f"{out}/planted.parquet")
    q = lambda s: con.execute(s).fetchall()[0][0]
    return {"docs": q(f"SELECT count(*) FROM read_parquet('{out}/documents.parquet')"),
            "eval_docs": ne,
            "exact_clusters": q("SELECT count(DISTINCT cluster) FROM planted WHERE kind = 'exact'"),
            "near_clusters": q("SELECT count(DISTINCT cluster) FROM planted WHERE kind = 'near'"),
            "contaminated": q("SELECT count(*) FROM contaminated"),
            "chars": q(f"SELECT sum(n_chars) FROM read_parquet('{out}/documents.parquet')")}


# ---------------------------------------------------------------------------
# TPC-H-shaped tables (the schema and value domains the query packs expect)
# ---------------------------------------------------------------------------

def gen_tpch(con, p, out):
    sf = p["sf"]
    nc, ns, np_, no, nl = (int(150000 * sf), max(int(10000 * sf), 20),
                           int(200000 * sf), int(1500000 * sf), int(6000000 * sf))
    day = lambda key, salt, lo, span: (
        f"(TIMESTAMP '{lo}' + to_days(i({key}, 0, '{salt}', {span})::INTEGER))")
    copy(con, """SELECT r::INTEGER AS r_regionkey,
        ['AFRICA', 'AMERICA', 'ASIA', 'EUROPE', 'MIDDLE EAST'][r + 1] AS r_name
        FROM range(5) t(r)""", f"{out}/region.parquet")
    copy(con, """SELECT n::INTEGER AS n_nationkey, 'NATION_' || n AS n_name,
        (n % 5)::INTEGER AS n_regionkey FROM range(25) t(n)""", f"{out}/nation.parquet")
    copy(con, f"""SELECT k AS c_custkey, 'Customer#' || lpad(k::VARCHAR, 9, '0') AS c_name,
        i(k, 0, 'cn', 25)::INTEGER AS c_nationkey,
        round(-999.99 + i(k, 0, 'cb', 1099999) / 100.0, 2) AS c_acctbal,
        ['AUTOMOBILE', 'BUILDING', 'FURNITURE', 'HOUSEHOLD', 'MACHINERY'][1 + i(k, 0, 'cs', 5)]
          AS c_mktsegment
        FROM range({nc}) t(k)""", f"{out}/customer.parquet")
    copy(con, f"""SELECT k AS s_suppkey, 'Supplier#' || lpad(k::VARCHAR, 9, '0') AS s_name,
        i(k, 0, 'sn', 25)::INTEGER AS s_nationkey,
        round(-999.99 + i(k, 0, 'sb', 1099999) / 100.0, 2) AS s_acctbal
        FROM range({ns}) t(k)""", f"{out}/supplier.parquet")
    copy(con, f"""SELECT k AS p_partkey,
        ['large', 'hot', 'blue', 'old', 'cold', 'red', 'small', 'green'][1 + i(k, 0, 'pa', 8)] || ' ' ||
        ['ring', 'bolt', 'plate', 'gear', 'widget', 'rod', 'anvil', 'nut'][1 + i(k, 0, 'pn', 8)] AS p_name,
        'Brand#' || (1 + i(k, 0, 'pb', 25)) AS p_brand,
        ['LARGE', 'ECONOMY', 'STANDARD', 'PROMO', 'SMALL', 'MEDIUM'][1 + i(k, 0, 'pt', 6)] AS p_type,
        (1 + i(k, 0, 'ps', 50))::INTEGER AS p_size,
        round(900 + i(k, 0, 'pr', 1000) / 10.0, 1) AS p_retailprice
        FROM range({np_}) t(k)""", f"{out}/part.parquet")
    copy(con, f"""SELECT k AS o_orderkey, i(k, 0, 'oc', {nc}) AS o_custkey,
        ['O', 'P', 'F'][1 + i(k, 0, 'os', 3)] AS o_orderstatus,
        round(1000 + i(k, 0, 'op', 49900000) / 100.0, 2) AS o_totalprice,
        {day('k', 'od', '1995-01-01', 2404)} AS o_orderdate,
        ['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW'][1 + i(k, 0, 'oo', 5)]
          AS o_orderpriority
        FROM range({no}) t(k)""", f"{out}/orders.parquet")
    copy(con, f"""SELECT i(k, 0, 'lo', {no}) AS l_orderkey, i(k, 0, 'lp', {np_}) AS l_partkey,
        i(k, 0, 'ls', {ns}) AS l_suppkey, (1 + i(k, 0, 'ln', 7))::INTEGER AS l_linenumber,
        (1 + i(k, 0, 'lq', 50))::DOUBLE AS l_quantity,
        round(900 + i(k, 0, 'le', 10410000) / 100.0, 2) AS l_extendedprice,
        round(i(k, 0, 'ld', 11) / 100.0, 2) AS l_discount,
        round(i(k, 0, 'lt', 9) / 100.0, 2) AS l_tax,
        ['R', 'N', 'A'][1 + i(k, 0, 'lr', 3)] AS l_returnflag,
        ['O', 'F'][1 + i(k, 0, 'll', 2)] AS l_linestatus,
        {day('k', 'sd', '1995-01-02', 2498)} AS l_shipdate
        FROM range({nl}) t(k)""", f"{out}/lineitem.parquet")
    return {"sf": sf, "rows": {"customer": nc, "supplier": ns, "part": np_,
                               "orders": no, "lineitem": nl, "nation": 25, "region": 5}}


GENERATORS = {"ates": gen_ates, "corpus": gen_corpus, "tpch": gen_tpch}


def generate(kind, seed, size, out):
    """Writes the data set into `out` (atomically: built in a sibling
    temp dir, then renamed) unless it is already there."""
    if os.path.exists(os.path.join(out, "expected.json")):
        return
    tmp = out + ".tmp"
    if os.path.exists(tmp):
        shutil.rmtree(tmp)
    os.makedirs(tmp)
    t0 = time.time()
    con = connect(seed, os.path.join(tmp, ".spill"))
    expected = GENERATORS[kind](con, SIZES[kind][size], tmp)
    con.close()
    expected.update(kind=kind, seed=seed, size=size, gen_s=round(time.time() - t0, 3),
                    bytes=sum(os.path.getsize(os.path.join(tmp, f)) for f in os.listdir(tmp)))
    shutil.rmtree(os.path.join(tmp, ".spill"), ignore_errors=True)
    with open(os.path.join(tmp, "expected.json"), "w") as f:
        json.dump(expected, f)
    os.rename(tmp, out)


if __name__ == "__main__":
    kind, seed, size, out = sys.argv[1], int(sys.argv[2]), sys.argv[3], sys.argv[4]
    generate(kind, seed, size, out)
    print(open(os.path.join(out, "expected.json")).read()[:400])
