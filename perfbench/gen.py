"""Seeded input generators for the three benchmark workloads.

Every function is a pure function of its seed and size arguments: the same
seed gives byte-identical files. Each returns a dict of the sizes and
properties of what it wrote, which run.py prints with the result.

  rides      lineitem.parquet/ + supplier.parquet in the shape graft's own
             loaders read (graft.core.Tables.rides / stationsById): one
             row per ride, (start, end) = (l_suppkey, l_partkey) over
             n_stations stations, pair popularity Zipf-distributed.
  curation   document shards with planted exact duplicates, planted
             near-duplicates and a spread of quality.
  lakehouse  orders-shaped seed rows and a CDC event stream
             (insert/update/delete) whose updates, deletes and reader
             keys skew toward recently written keys.

Where the shape of the traffic comes from (BENCHMARK.md lists the same):

  sourced    the recency skew of CDC targets and reader keys: the bounded
             Zipfian with constant 0.99 that YCSB's request generators use
             (Cooper et al., "Benchmarking Cloud Serving Systems with
             YCSB", SoCC 2010), applied to the write history as YCSB's
             "latest" distribution applies it to insertion order.
  measured   the CDC rate, a stated fraction of the rate the ingest path
             sustains (run.py, LAKE_RATE).
  assumed    everything else, chosen without a source: the Zipf(1.1)
             popularity of ride pairs, the 8% / 8% planted exact and near
             duplicate shares, the 40 / 45 / 15 insert / update / delete
             mix and the 80 / 12 / 8 lookup / range / time-travel reader
             mix.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "it"]


def _write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def zipf_weights(n, s):
    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    return w / w.sum()


# ---------------------------------------------------------------- rides

def rides(out_dir, seed, n_rides, n_stations=1000, zipf_s=1.1, n_files=8):
    """Rides over n_stations**2 (start, end) pairs; the pair of popularity
    rank r is drawn with probability proportional to 1 / r**zipf_s, and
    which pair holds which rank is a seeded permutation. zipf_s is an
    assumption: no trip data was at hand to fit it."""
    rng = np.random.default_rng([seed, 1])
    n_pairs = n_stations * n_stations
    cdf = np.cumsum(zipf_weights(n_pairs, zipf_s))
    pair_of_rank = rng.permutation(n_pairs)
    li_dir = os.path.join(out_dir, "lineitem.parquet")
    per = -(-n_rides // n_files)
    for i in range(n_files):
        m = min(per, n_rides - i * per)
        ranks = np.searchsorted(cdf, rng.random(m) * cdf[-1])
        pairs = pair_of_rank[np.minimum(ranks, n_pairs - 1)]
        _write(pa.table({
            "l_suppkey": (pairs // n_stations).astype(np.int64),
            "l_partkey": (pairs % n_stations).astype(np.int64),
        }), os.path.join(li_dir, f"part-{i:05d}.parquet"))
    keys = np.arange(n_stations, dtype=np.int64)
    _write(pa.table({
        "s_suppkey": keys,
        "s_name": [f"Supplier#{k:09d}" for k in keys],
    }), os.path.join(out_dir, "supplier.parquet"))
    top_share = float(zipf_weights(n_pairs, zipf_s)[:100].sum())
    return {"rides": n_rides, "stations": n_stations,
            "station_pairs": n_pairs, "zipf_s": zipf_s,
            "top100_pair_share": round(top_share, 4), "files": n_files,
            "bytes": _du(li_dir)}


def _du(path):
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


# ------------------------------------------------------------- curation

class _Vocab:
    """A pseudo-language: the stopwords the quality score counts plus
    `size` random words. Tokens are indices into `words`; `surface` holds
    every word in six spellings (plain / sentence case × no mark / '.' /
    ','), which Normalize.cleaned folds back together."""

    def __init__(self, rng, size=6000):
        letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
        seen = set(STOPWORDS)
        words = []
        while len(words) < size:
            w = "".join(rng.choice(letters, int(rng.integers(3, 11))))
            if w not in seen:
                seen.add(w)
                words.append(w)
        self.words = np.array(STOPWORDS + words)
        self.stop = np.arange(len(STOPWORDS))
        self.body = np.arange(len(STOPWORDS), len(self.words))
        self.cdf = np.cumsum(zipf_weights(size, 1.0))
        self.surface = np.array([
            (w.capitalize() if cap else w) + mark
            for cap in (False, True) for mark in ("", ".", ",")
            for w in self.words])

    def text(self, rng, toks):
        r = rng.random(len(toks))
        mark = np.where(r < 0.08, 1, np.where(r < 0.12, 2, 0))
        cap = np.concatenate([[1], mark[:-1] == 1])
        return " ".join(self.surface[(cap * 3 + mark) * len(self.words) + toks].tolist())

    def tokens(self, rng):
        """A new document. Length, stopword share and lexical diversity
        vary, so the quality score spreads across its threshold."""
        n = int(rng.integers(15, 200))
        if rng.random() < 0.2:
            # repetitive: a small private word pool
            toks = rng.choice(rng.choice(self.body, 8, replace=False), n)
        else:
            toks = self.body[np.minimum(np.searchsorted(self.cdf, rng.random(n)),
                                        len(self.body) - 1)]
        mask = rng.random(n) < rng.uniform(0.0, 0.5)
        return np.where(mask, self.stop[rng.integers(0, 8, n)], toks)

    def near_copy(self, rng, toks):
        """A copy with Jaccard >= 0.8 on word trigrams to the original:
        the last word replaced, plus one more word per 40 in longer docs
        (so LSH recall is ~1 and the exhaustive oracle agrees)."""
        toks = np.array(toks, copy=True)
        k = len(toks) // 40
        idx = np.concatenate([[len(toks) - 1],
                              rng.choice(len(toks) - 1, k, replace=False)])
        toks[idx] = self.body[rng.integers(0, len(self.body), len(idx))]
        return toks


def curation(out_dir, seed, pools, docs_per_shard, exact_share=0.08,
             near_share=0.08):
    """Document shards with planted exact and near duplicates. `pools`
    maps a pool name to its shard count; shard s of pool p is
    shards/p-s.parquet, and every doc id is unique across shards. The
    planted shares are assumptions."""
    rng = np.random.default_rng([seed, 2])
    vocab = _Vocab(rng)
    sid = 0
    for pool, count in pools.items():
        for s in range(count):
            sid += 1
            ids, texts, base = [], [], []
            for j in range(docs_per_shard):
                r = rng.random()
                if base and r < exact_share:
                    toks = base[int(rng.integers(0, len(base)))]
                elif base and r < exact_share + near_share:
                    toks = vocab.near_copy(rng, base[int(rng.integers(0, len(base)))])
                else:
                    toks = vocab.tokens(rng)
                    base.append(toks)
                ids.append(sid * 1_000_000 + j)
                texts.append(vocab.text(rng, toks))
            _write(pa.table({"doc_id": np.array(ids, dtype=np.int64),
                             "text": texts}),
                   os.path.join(out_dir, "shards", f"{pool}-{s:04d}.parquet"))
    return {"shards": pools, "docs_per_shard": docs_per_shard,
            "planted_exact_share": exact_share,
            "planted_near_share": near_share}


# ------------------------------------------------------------ lakehouse

STATUSES = np.array(["O", "F", "P"])


def lakehouse(out_dir, seed, n_rows, n_events, n_ops, rate_per_s, tick_ms):
    """The seed table (lake_seed/), the CDC log (cdc_events.parquet), the
    reader's request list (reader_ops.parquet) and the generator's
    schedule (schedule.properties: the rate and tick it delivers at)."""
    _lake_seed(out_dir, seed, n_rows)
    with open(os.path.join(out_dir, "schedule.properties"), "w") as f:
        f.write(f"seed_rows={n_rows}\nrate_per_s={rate_per_s}\n"
                f"tick_ms={tick_ms}\n")
    pq.write_table(pa.table(_cdc_events(seed, n_rows, n_events)),
                   os.path.join(out_dir, "cdc_events.parquet"))
    ops = _reader_ops(seed, n_ops, n_rows)
    pq.write_table(pa.table({"kind": ops[:, 0], "off": ops[:, 1],
                             "width": ops[:, 2], "back": ops[:, 3]}),
                   os.path.join(out_dir, "reader_ops.parquet"))
    return {"seed_rows": n_rows, "cdc_events": n_events, "reader_ops": n_ops,
            "cdc_rate_per_s": rate_per_s, "generator_tick_ms": tick_ms,
            "recency_zipf_theta": RECENCY_THETA}


def _lake_seed(out_dir, seed, n_rows, n_files=16):
    """Initial table: keys 0..n_rows-1, written in key order."""
    rng = np.random.default_rng([seed, 3])
    keys = np.arange(n_rows, dtype=np.int64)
    t = pa.table({
        "o_orderkey": keys,
        "o_custkey": rng.integers(1, 150_000, n_rows, dtype=np.int64),
        "o_orderstatus": STATUSES[rng.integers(0, 3, n_rows)],
        "o_totalcents": rng.integers(100, 50_000_000, n_rows, dtype=np.int64),
        "o_seq": np.full(n_rows, -1, dtype=np.int64),
    })
    per = -(-n_rows // n_files)
    for i in range(n_files):
        _write(t.slice(i * per, per),
               os.path.join(out_dir, "lake_seed", f"part-{i:05d}.parquet"))


RECENCY_THETA = 0.99   # YCSB's Zipfian constant
HISTORY = 50_000       # writes back that a CDC update or delete can reach


def _recent_offsets(rng, n, span):
    """Offsets back from the most recently written key, 0..span-1, drawn
    from a bounded Zipfian with constant RECENCY_THETA, so the newest keys
    are the most likely targets."""
    cdf = np.cumsum(zipf_weights(span, RECENCY_THETA))
    return np.minimum(np.searchsorted(cdf, rng.random(n) * cdf[-1]), span - 1)


def _cdc_events(seed, n_rows, n_events, insert_share=0.4, delete_share=0.15):
    """CDC stream in seq order. Each event: (seq, key, op, custkey, status,
    cents). Updates and deletes pick a key a Zipfian-distributed number of
    writes back in the write history, so recently written keys dominate.
    The op mix is an assumption."""
    rng = np.random.default_rng([seed, 4])
    ops = rng.random(n_events)
    offs = _recent_offsets(rng, n_events, HISTORY)
    history = list(range(n_rows - HISTORY, n_rows))  # recent seed keys
    next_key = n_rows
    keys = np.empty(n_events, dtype=np.int64)
    opc = np.empty(n_events, dtype="<U1")
    for i in range(n_events):
        if ops[i] < insert_share:
            k, op = next_key, "I"
            next_key += 1
        else:
            k = history[-1 - int(min(offs[i], len(history) - 1))]
            op = "D" if ops[i] > 1.0 - delete_share else "U"
        history.append(k)
        keys[i] = k
        opc[i] = op
    return {
        "seq": np.arange(n_events, dtype=np.int64),
        "key": keys,
        "op": opc,
        "custkey": rng.integers(1, 150_000, n_events, dtype=np.int64),
        "status": STATUSES[rng.integers(0, 3, n_events)],
        "cents": rng.integers(100, 50_000_000, n_events, dtype=np.int64),
    }


def _reader_ops(seed, n_ops, n_rows):
    """The closed-loop reader's request list: kind (0 lookup, 1 range
    aggregate, 2 time-travel range aggregate), a recency offset for the
    key, and the range width. The kind mix is an assumption."""
    rng = np.random.default_rng([seed, 5])
    kind = rng.choice(3, n_ops, p=[0.8, 0.12, 0.08])
    off = _recent_offsets(rng, n_ops, n_rows)
    width = rng.integers(100, 5000, n_ops)
    back = rng.integers(1, 4, n_ops)
    return np.stack([kind, off, width, back], axis=1).astype(np.int64)
