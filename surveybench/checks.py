"""Output checks of the survey benchmark, run after the JVM exits and
outside every timed region. Each returns the number of operations whose
output was wrong and appends a line per wrong output to `failures`.

- survey, search phase: every search's row set equals a brute-force filter over
  the master source table in DuckDB (great-circle distance with the
  formula of graft's sphere.gcDistSql for cones; the exact range
  predicate for boxes; great-circle edge half-spaces for polygons).
- survey, ingest phase: for a seeded sample of left rows per iteration, the
  catalog cross-match equals a brute-force nearest neighbour within the
  match radius (row counts and _ID uniqueness are checked in the JVM).
- pipeline_ops: every query's result matches its registry DuckDB oracle
  on rows and hash, via the repository's tools/check_oracle.py.
"""
import csv
import json
import math
import os
import re
import subprocess
import sys

import duckdb


def gc_sql(ra1, dec1, ra2, dec2):
    # graft.functions.sphere.gcDistSql, verbatim
    return (f"2.0 * degrees(asin(least(1.0, sqrt("
            f"pow(sin(radians({dec1} - {dec2}) / 2), 2) + "
            f"cos(radians({dec1})) * cos(radians({dec2})) * pow(sin(radians({ra1} - {ra2}) / 2), 2)))))")


def _vec(ra, dec):
    a, d = math.radians(ra), math.radians(dec)
    return (math.cos(d) * math.cos(a), math.cos(d) * math.sin(a), math.sin(d))


def _polygon_sql(vertices):
    """Inside test of a convex spherical polygon: the point lies on the
    centroid's side of every edge's great circle."""
    vs = [_vec(r, d) for r, d in vertices]
    c = [sum(v[i] for v in vs) for i in range(3)]
    terms = []
    for a, b in zip(vs, vs[1:] + vs[:1]):
        n = (a[1] * b[2] - a[2] * b[1], a[2] * b[0] - a[0] * b[2], a[0] * b[1] - a[1] * b[0])
        if sum(n[i] * c[i] for i in range(3)) < 0:
            n = tuple(-x for x in n)
        terms.append(f"({n[0]!r} * x + {n[1]!r} * y + {n[2]!r} * z >= 0)")
    return " AND ".join(terms)


def _search_sql(s):
    if s["kind"] == "cone":
        return f"{gc_sql('ra', 'dec', repr(s['ra']), repr(s['dec']))} < {s['radius']!r}"
    if s["kind"] == "box":
        ra = (f"ra >= {s['ra_lo']!r} AND ra <= {s['ra_hi']!r}" if s["ra_lo"] <= s["ra_hi"]
              else f"(ra >= {s['ra_lo']!r} OR ra <= {s['ra_hi']!r})")
        return f"dec >= {s['dec_lo']!r} AND dec <= {s['dec_hi']!r} AND {ra}"
    return _polygon_sql(s["vertices"])


def sky_search(result, failures):
    art = result["artifacts"]
    master = os.path.join(art["inputs"], "master")
    with open(os.path.join(art["inputs"], "searches.json")) as f:
        searches = {s["idx"]: s for s in json.load(f)}
    got = {}
    with open(art["search_results"]) as f:
        for row in csv.DictReader(f):
            got.setdefault(int(row["idx"]), set()).add(int(row["id"]))
    con = duckdb.connect()
    con.execute(f"""CREATE TABLE m AS SELECT source_id, ra, dec,
        cos(radians(dec)) * cos(radians(ra)) AS x, cos(radians(dec)) * sin(radians(ra)) AS y,
        sin(radians(dec)) AS z FROM read_parquet('{master}/*.parquet')""")
    wrong = 0
    for idx in art["searches_run"]:
        s = searches[idx]
        want = {r[0] for r in con.execute(f"SELECT source_id FROM m WHERE {_search_sql(s)}").fetchall()}
        have = got.get(idx, set())
        if have != want:
            wrong += 1
            failures.append(f"search {idx} ({s['kind']}): {len(have)} rows, brute force "
                            f"{len(want)} ({len(have - want)} extra, {len(want - have)} missing)")
    return wrong


def epoch_ingest(result, failures):
    art = result["artifacts"]
    dthresh = result["header"]["catalog"]["dthresh_deg"]
    con = duckdb.connect()
    inp = art["inputs"]
    con.execute(f"CREATE TABLE l AS SELECT source_id AS lid, ra, dec "
                f"FROM read_parquet(['{inp}/epoch/*.parquet', '{inp}/late/*.parquet'])")
    con.execute(f"CREATE TABLE m AS SELECT source_id AS rid, ra, dec FROM read_parquet('{inp}/master/*.parquet')")
    wrong = 0
    for path in art["xmatch_checks"]:
        with open(path) as f:
            got = {int(r["lid"]): (int(r["rid"]) if r["rid"] else None) for r in csv.DictReader(f)}
        con.execute("CREATE OR REPLACE TABLE s AS SELECT * FROM (VALUES " +
                    ", ".join(f"({x})" for x in got) + ") t(lid)")
        # |dec difference| bounds the great-circle distance, so the band
        # join only prunes pairs that cannot match
        rows = con.execute(f"""
            SELECT lid, rid FROM (
              SELECT lid, rid, row_number() OVER (PARTITION BY lid ORDER BY round(d, 9), rid) AS rn
              FROM (SELECT l.lid, m.rid, {gc_sql('l.ra', 'l.dec', 'm.ra', 'm.dec')} AS d
                    FROM l JOIN s USING (lid)
                    JOIN m ON m.dec BETWEEN l.dec - {4 * dthresh} AND l.dec + {4 * dthresh})
              WHERE d < {dthresh}) WHERE rn = 1""").fetchall()
        want = {lid: None for lid in got}
        want.update({lid: rid for lid, rid in rows})
        bad = [lid for lid in got if got[lid] != want[lid]]
        if bad:
            wrong += 1
            failures.append(f"crossmatch {os.path.basename(path)}: {len(bad)} of {len(got)} sampled "
                            f"rows differ from brute force, e.g. {bad[0]}: {got[bad[0]]} vs {want[bad[0]]}")
    return wrong


def pipeline_ops(result, failures):
    art = result["artifacts"]
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    tool = os.path.join(root, "tools", "check_oracle.py")
    p = subprocess.run([sys.executable, tool, art["pipeline_dump"], art["inputs"]],
                       capture_output=True, text=True, timeout=100)
    status = {}
    for line in p.stdout.splitlines():
        m = re.match(r"\[(OK|FAIL|rows-only)\] (\S+):", line)
        if m:
            status[m.group(2)] = m.group(1)
    wrong = 0
    for q in art["pipeline_queries"]:
        if status.get(q) != "OK":
            # every timed execution returned this same (checked) result
            n = result["header"].get("passes", 1) + (1 if result["header"]["tracing"] else 0)
            wrong += n
            detail = [l for l in p.stdout.splitlines() if q in l][:3]
            failures.append(f"{q}: oracle {status.get(q, 'missing')} {' | '.join(detail)}")
    if p.returncode not in (0, 1):
        failures.append(f"check_oracle.py exited {p.returncode}: {p.stderr[-500:]}")
    return wrong


def run(workload, result, failures):
    if workload == "survey":
        return sky_search(result, failures) + epoch_ingest(result, failures)
    return pipeline_ops(result, failures)
