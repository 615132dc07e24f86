"""Output checks and metric reduction for run.py.

Every timed operation's output is compared with an independent reference
computed by DuckDB over the same generated files: the library's own oracle
SQL (graft.Catalog, GeodesicOracleSql, TextQueries, Normalize; the harness
exports the text into result.json) for rides and curation, and a replay of
the CDC log for lakehouse. A missing, extra or differing row fails the op.
"""
import hashlib
import os
import statistics

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CACHE = ".cache"  # set by run.py


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def tail(xs):
    """The highest percentile with at least ten samples beyond it, as
    (value, percentile, samples)."""
    n = len(xs)
    if n < 11:
        return (max(xs) if xs else float("nan")), 100.0 * (n - 1) / max(n, 1), n
    s = sorted(xs)
    k = n - 11  # ten samples lie above index k
    return s[k], round(100.0 * (k + 1) / n, 2), n


def m(value, unit):
    return {"value": value, "unit": unit}


def _ops(res, phase):
    return res[phase]["ops"] if phase in res else []


# ---------------------------------------------------------------- rides

def _rides_refs(con, inputs, chk):
    con.execute(f"CREATE VIEW lineitem AS SELECT * FROM "
                f"read_parquet('{inputs}/lineitem.parquet/*.parquet')")
    con.execute(f"CREATE VIEW supplier AS SELECT * FROM "
                f"read_parquet('{inputs}/supplier.parquet')")
    con.execute(f"CREATE TABLE ref_top AS {chk['easy_sql']}")
    # the station table does not depend on the seed, so its 1M-pair
    # geodesic reference is computed once per checkout
    with open(f"{inputs}/supplier.parquet", "rb") as f:
        key = hashlib.sha256(chk["geodesic_cte"].encode() + f.read()).hexdigest()
    cached = os.path.join(CACHE, f"ref_dist-{key[:16]}.parquet")
    if not os.path.exists(cached):
        os.makedirs(CACHE, exist_ok=True)
        con.execute(f"COPY ({chk['geodesic_cte']} "
                    "SELECT station_1, station_2, dd FROM gdist) "
                    f"TO '{cached}.tmp' (FORMAT parquet)")
        os.replace(f"{cached}.tmp", cached)
    con.execute(f"CREATE TABLE ref_dist AS SELECT * FROM read_parquet('{cached}')")
    # Q-total's oracle: the catalog's full-outer zero-fill shape over the
    # geodesic distances
    con.execute("""CREATE TABLE ref_total AS
        WITH counts AS (
          SELECT l_suppkey AS s, l_partkey % (SELECT count(*) FROM supplier) AS e,
                 count(*) AS cnt FROM lineitem GROUP BY 1, 2)
        SELECT COALESCE(c.s, d.station_1) AS s, COALESCE(c.e, d.station_2) AS e,
               COALESCE(c.cnt, 0) AS cnt, COALESCE(d.dd, 0.0) AS dd
        FROM counts c FULL OUTER JOIN ref_dist d
          ON c.s = d.station_1 AND c.e = d.station_2""")


_RIDES_SQL = {
    # (csv columns, count of mismatches against the reference)
    "q_top": ("{'s': 'BIGINT', 'e': 'BIGINT', 'n': 'BIGINT'}", """
        SELECT (SELECT count(*) FROM o) <> (SELECT count(*) FROM ref_top)
             OR EXISTS (SELECT * FROM o FULL OUTER JOIN ref_top r
               ON o.s = r.start_station_id AND o.e = r.end_station_id
               WHERE o.n IS DISTINCT FROM r.amount_of_rides)"""),
    "q_dist": ("{'s': 'BIGINT', 'e': 'BIGINT', 'd': 'DOUBLE'}", """
        SELECT (SELECT count(*) FROM o) <> (SELECT count(*) FROM ref_dist)
             OR EXISTS (SELECT * FROM o FULL OUTER JOIN ref_dist r
               ON o.s = r.station_1 AND o.e = r.station_2
               WHERE o.d IS NULL OR r.dd IS NULL OR abs(o.d - r.dd) > 1e-9)"""),
    "q_total": ("{'s': 'BIGINT', 'e': 'BIGINT', 'n': 'BIGINT', "
                "'d': 'DOUBLE', 't': 'DOUBLE'}", """
        SELECT (SELECT count(*) FROM o) <> (SELECT count(*) FROM ref_total)
             OR EXISTS (SELECT * FROM o FULL OUTER JOIN ref_total r
               ON o.s = r.s AND o.e = r.e
               WHERE o.n IS DISTINCT FROM r.cnt OR r.dd IS NULL
                  OR abs(o.d - r.dd) > 1e-9
                  OR abs(o.t - r.cnt * r.dd) > 1e-9 * greatest(1.0, abs(o.t)))"""),
}


def _csv_ok(con, out, kind):
    cols, sql = _RIDES_SQL["q_top" if kind in ("q_easy", "q_hard") else kind]
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        return False
    con.execute(f"CREATE OR REPLACE TEMP VIEW o AS SELECT * FROM read_csv("
                f"'{out}/*.csv', header=false, columns={cols})")
    return not con.execute(sql).fetchone()[0]


# ------------------------------------------------------------- curation

def _curation_ok(con, chk, op):
    """Reference for one shard: the normalization mirror, then the
    catalog's training-prep oracle (quality → exact dedup → exhaustive
    near-dup pairs → clusters → packing), compared per packed sequence."""
    norm = chk["normalize_sql"].replace("{t}", "text")
    con.execute(f"""CREATE OR REPLACE TABLE documents AS
        SELECT doc_id, {norm} AS text FROM read_parquet('{op["shard"]}')""")
    ref = con.execute(chk["prep_sql"]).fetchall()
    out = op["out"]
    if not os.path.exists(os.path.join(out, "_manifest.json")):
        return False
    got = con.execute(f"""SELECT seq_id, count(*), sum(n_tokens)
        FROM read_json('{out}/part-*.json', format='newline_delimited',
                       columns={{doc_id: 'BIGINT', seq_id: 'BIGINT',
                                 n_tokens: 'BIGINT', text: 'VARCHAR'}})
        GROUP BY seq_id ORDER BY seq_id""").fetchall()
    return [tuple(r) for r in ref] == [tuple(r) for r in got]


# ------------------------------------------------------------ lakehouse

class _Replay:
    """The table state after any prefix of the CDC log. MERGE semantics:
    a delete removes the key, any other op leaves the key present with
    the event's values (update of a missing key inserts)."""

    def __init__(self, inputs):
        seed = pq.read_table(os.path.join(inputs, "lake_seed")).sort_by("o_orderkey")
        self.seed_keys = seed["o_orderkey"].to_numpy()
        self.seed_cents = seed["o_totalcents"].to_numpy()
        self.seed_cum = np.concatenate([[0], np.cumsum(self.seed_cents)])
        self.seed = seed
        ev = pq.read_table(os.path.join(inputs, "cdc_events.parquet"))
        self.ev = {c: ev[c].to_numpy(zero_copy_only=False) for c in ev.column_names}
        order = np.lexsort((self.ev["seq"], self.ev["key"]))
        self.by_key = order  # events sorted by (key, seq)
        self.sorted_keys = self.ev["key"][order]

    def _seed_row(self, k):
        i = np.searchsorted(self.seed_keys, k)
        if i < len(self.seed_keys) and self.seed_keys[i] == k:
            t = self.seed
            return (int(k), int(t["o_custkey"][i].as_py()),
                    t["o_orderstatus"][i].as_py(), int(self.seed_cents[i]), -1)
        return None

    def row(self, k, prefix):
        lo = np.searchsorted(self.sorted_keys, k, "left")
        hi = np.searchsorted(self.sorted_keys, k, "right")
        idx = [j for j in self.by_key[lo:hi] if self.ev["seq"][j] < prefix]
        if not idx:
            return self._seed_row(k)
        j = idx[-1]
        if self.ev["op"][j] == "D":
            return None
        e = self.ev
        return (int(k), int(e["custkey"][j]), str(e["status"][j]),
                int(e["cents"][j]), int(e["seq"][j]))

    def range_agg(self, lo, hi, prefix):
        a = np.searchsorted(self.seed_keys, lo, "left")
        b = np.searchsorted(self.seed_keys, hi, "right")
        n, s = b - a, int(self.seed_cum[b] - self.seed_cum[a])
        i0 = np.searchsorted(self.sorted_keys, lo, "left")
        i1 = np.searchsorted(self.sorted_keys, hi, "right")
        for k in np.unique(self.sorted_keys[i0:i1]):
            before = self._seed_row(k)
            after = self.row(k, prefix)
            n += (after is not None) - (before is not None)
            s += (after[3] if after else 0) - (before[3] if before else 0)
        return int(n), int(s)

    def final(self, prefix):
        """The whole table after `prefix` events, sorted by key."""
        e = {c: v[:prefix] for c, v in self.ev.items()}
        # last event per key: unique over the reversed log
        keys, first_rev = np.unique(e["key"][::-1], return_index=True)
        last = prefix - 1 - first_rev
        live = e["op"][last] != "D"
        t = self.seed
        untouched = ~np.isin(self.seed_keys, keys)
        seed = t.filter(pa.array(untouched))
        ev = pa.table({
            "o_orderkey": keys[live], "o_custkey": e["custkey"][last][live],
            "o_orderstatus": e["status"][last][live].astype(str),
            "o_totalcents": e["cents"][last][live], "o_seq": e["seq"][last][live]})
        return pa.concat_tables([seed.select(ev.column_names), ev]).sort_by("o_orderkey")


def _lake_check(inputs, res):
    rp = _Replay(inputs)
    ok = []
    for phase in ("untraced", "traced"):
        if phase not in res:
            continue
        info = res[phase]["info"]
        prefix_of = {int(v): int(p) for v, p in info["versions"]}
        # an ingest or maintenance pass that failed other than by a
        # retryable lost commit
        ok.extend(False for _ in info["errors"])
        for op in res[phase]["ops"]:
            if op["kind"] == "ingest":
                continue
            v = int(op["version"])
            if v not in prefix_of or op.get("error"):
                ok.append(False)
                continue
            p = prefix_of[v]
            if op["kind"] == "lookup":
                want = rp.row(int(op["key"]), p)
                got = op["rows"]
                ok.append((got == [] and want is None) or
                          (len(got) == 1 and want is not None and
                           tuple(got[0]) == want))
            else:
                n, s = rp.range_agg(int(op["lo"]), int(op["hi"]), p)
                ok.append(int(op["n"]) == n and int(op["sum"]) == s)
        # every generated event up to the committed prefix is in the
        # final table, and nothing else is
        want = rp.final(int(info["committed"]))
        got = pq.read_table(info["final_table"]).select(want.column_names)
        ok.append(got.sort_by("o_orderkey").cast(want.schema).equals(want) and
                  int(info["committed"]) == int(info["generated"]))
    return ok


# --------------------------------------------------------------- verify

def verify(workload, inputs, res):
    chk = res.get("check", {})
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    ok = []
    if workload == "rides":
        _rides_refs(con, inputs, chk)
        ok = [_csv_ok(con, op["out"], op["kind"])
              for ph in ("untraced", "traced") for op in _ops(res, ph)]
    elif workload == "curation":
        ok = [_curation_ok(con, chk, op)
              for ph in ("untraced", "traced") for op in _ops(res, ph)]
    else:
        ok = _lake_check(inputs, res)
    con.close()
    return {"attempted": len(ok), "failed": sum(1 for x in ok if not x)}


# -------------------------------------------------------------- metrics

def _lat(ops, kind):
    return [o["latency_s"] for o in ops if o["kind"] == kind]


def lake_lags(info):
    """Per event: commit time of the first table version holding it minus
    the time the event was due, in seconds."""
    t0, rate, first = info["t0_ms"], info["rate"], int(info["first_event"])
    commits = sorted((int(p), float(t)) for p, t in info["commits"])
    lags = []
    prev = first
    for p, t in commits:
        seqs = np.arange(prev, p) - first
        lags.extend(((t - (t0 + seqs * 1000.0 / rate)) / 1000.0).tolist())
        prev = max(prev, p)
    return lags


def detailed(workload, res, phase="untraced"):
    """The workload's own user-facing metrics, by the names BENCHMARK.md
    uses; tails carry their percentile and sample count."""
    ops = res[phase]["ops"]
    out = {}
    if workload == "rides":
        for k in ("q_easy", "q_hard", "q_dist", "q_total"):
            out[f"{k}_p50_s"] = m(median(_lat(ops, k)), "s")
    elif workload == "curation":
        out["curate_p50_s"] = m(median(_lat(ops, "curate")), "s")
        docs = len(_lat(ops, "curate")) * res["docs_per_shard"]
        out["curate_docs_per_s"] = m(docs / res[phase]["wall_s"], "docs/s")
    else:
        info = res[phase]["info"]
        look = _lat(ops, "lookup")
        out["lookup_p50_s"] = m(median(look), "s")
        v, pct, n = tail(look)
        out["lookup_tail_s"] = dict(m(v, "s"), percentile=pct, samples=n)
        out["scan_p50_s"] = m(median(_lat(ops, "range") + _lat(ops, "travel")), "s")
        lags = lake_lags(info)
        out["ingest_lag_p50_s"] = m(median(lags), "s")
        v, pct, n = tail(lags)
        out["ingest_lag_tail_s"] = dict(m(v, "s"), percentile=pct, samples=n)
        out["space_amp"] = m(info["snapshot_bytes"] / info["plain_bytes"], "ratio")
    return out


def end_to_end(workload, res, phase="untraced"):
    """The metrics every workload reports (BENCHMARK.json end_to_end).
    latency_p50_s is the median latency of the workload's unit of work:
    one pass over the four questions (the sum of their medians) on rides,
    one shard on curation, and on lakehouse one CDC event, from the time it
    was due to the commit of the first table version holding it."""
    d = detailed(workload, res, phase)
    if workload == "rides":
        lat = sum(d[f"{k}_p50_s"]["value"] for k in ("q_easy", "q_hard", "q_dist", "q_total"))
    elif workload == "curation":
        lat = d["curate_p50_s"]["value"]
    else:
        lat = d["ingest_lag_p50_s"]["value"]
    return {"setup_s": m(res["setup"]["setup_s"], "s"),
            "latency_p50_s": m(lat, "s"),
            "rss_peak_mb": m(res["vm_hwm_kb"] / 1024.0, "MB")}


def per_layer(workload, res, names):
    """Every per-layer metric BENCHMARK.json names: the traced phase's
    layer counters, the tracing overhead (traced over untraced request
    latency, minus one) and the workload's own metrics from the untraced
    phase as `e2e.<name>`. A layer the workload does not exercise reads 0."""
    got = dict(res["layers"])
    plain = end_to_end(workload, res, "untraced")["latency_p50_s"]["value"]
    traced = end_to_end(workload, res, "traced")["latency_p50_s"]["value"]
    got["trace.overhead_frac"] = traced / plain - 1.0
    for k, v in detailed(workload, res).items():
        got[f"e2e.{k}"] = v["value"]
    out = {}
    for name, unit in names.items():
        v = got.get(name)
        out[name] = m(0.0 if v is None or v != v else float(v), unit)
    return out
