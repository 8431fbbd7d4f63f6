"""Seeded inputs: the synthetic pages corpus and the REST request mix.

Everything here is a pure function of the seed, so two runs with one seed
hand the engine identical bytes and identical requests. The engine sees only
what these functions produce (a parquet pages table and REST params).

Content model (the shape of the engine's own synthetic corpus, FIXTURES.md):
Zipf(s=1.1) draws over a 10k-word vocabulary ``w0..w9999``, doc length
lognormal(mu=5.2, sigma=0.6) tokens clipped to [8, 2048], one ``warc_ts``
per doc spread over ~3 weeks, and a ``lang`` tag. Every token is already in
the default tokenizer's output form, so the token ids the generator drew are
exactly the terms the index holds — the checker builds its oracle from them.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB_SIZE = 10_000
ZIPF_S = 1.1
LOGNORM_MU = 5.2
LOGNORM_SIGMA = 0.6
BASE_TS = dt.datetime(2023, 1, 1)
TS_SPAN_S = 21 * 86_400
LANGS = ("en", "en", "en", "en", "de", "fr", "es", "zh")

# Zipf rank bands the request mix draws its terms from
COMMON = (0, 10)  # in nearly every doc: long posting lists
MID = (40, 400)  # in roughly 3-35% of docs
RARE = (2_000, VOCAB_SIZE)  # tens to hundreds of docs per corpus

VOCAB = [f"w{k}" for k in range(VOCAB_SIZE)]
WORD_BYTES = np.array([len(w) for w in VOCAB], dtype=np.int64)


class Corpus:
    """Docs ``first_id .. first_id + n - 1`` of one seed's stream.

    ``ranks`` holds every token as a vocabulary rank, doc ``i`` owning
    ``ranks[offsets[i]:offsets[i + 1]]``."""

    def __init__(self, seed: int, first_id: int, n: int):
        rng = np.random.Generator(np.random.PCG64([seed, first_id]))
        lens = np.exp(LOGNORM_MU + LOGNORM_SIGMA * rng.standard_normal(n))
        self.lens = np.clip(lens, 8, 2048).astype(np.int64)
        self.offsets = np.concatenate(([0], np.cumsum(self.lens)))
        p = 1.0 / np.power(np.arange(1, VOCAB_SIZE + 1, dtype=np.float64), ZIPF_S)
        cdf = np.cumsum(p / p.sum())
        u = rng.random(int(self.offsets[-1]))
        self.ranks = np.minimum(
            np.searchsorted(cdf, u, side="right"), VOCAB_SIZE - 1
        ).astype(np.int16)
        self.ids = np.arange(first_id, first_id + n, dtype=np.int64)
        self.ts_s = rng.integers(0, TS_SPAN_S, n)
        self.lang = rng.integers(0, len(LANGS), n)

    def __len__(self) -> int:
        return len(self.ids)

    def url(self, i: int) -> str:
        return url_of(int(self.ids[i]))

    def tokens(self, i: int) -> list[str]:
        return [VOCAB[r] for r in self.ranks[self.offsets[i] : self.offsets[i + 1]]]

    def ts(self, i: int) -> dt.datetime:
        return BASE_TS + dt.timedelta(seconds=int(self.ts_s[i]))

    def table(self) -> pa.Table:
        vocab = np.array(VOCAB, dtype=object)
        text = [
            " ".join(vocab[self.ranks[a:b]])
            for a, b in zip(self.offsets[:-1], self.offsets[1:])
        ]
        ts = np.datetime64(BASE_TS, "s") + self.ts_s.astype("timedelta64[s]")
        return pa.table(
            {
                "url": pa.array([url_of(int(i)) for i in self.ids], pa.string()),
                "warc_ts": pa.array(
                    ts.astype("datetime64[us]"), pa.timestamp("us", tz="UTC")
                ),
                "text": pa.array(text, pa.string()),
                "lang": pa.array(np.array(LANGS, dtype=object)[self.lang], pa.string()),
            }
        )

    def text_bytes(self, lo: int = 0, hi: int | None = None) -> int:
        """UTF-8 bytes of docs ``lo..hi - 1``'s text, without building it."""
        hi = len(self) if hi is None else hi
        a, b = self.offsets[lo], self.offsets[hi]
        return int(WORD_BYTES[self.ranks[a:b]].sum()) + int(b - a) - (hi - lo)


def url_of(doc_id: int) -> str:
    return f"https://site{doc_id % 97}.example/p/{doc_id}"


def id_of(url: str) -> int:
    return int(url.rsplit("/", 1)[1])


def stage(table: pa.Table, path: str, files: int) -> None:
    """Write ``table`` as a ``files``-file parquet directory (the engine's
    input-table form; the file count sets the build's read parallelism)."""
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // files)
    for k in range(files):
        pq.write_table(
            table.slice(k * step, step),
            os.path.join(path, f"part-{k:04d}.parquet"),
            compression="zstd",
        )


def _band(rng, band: tuple[int, int], k: int) -> list[str]:
    lo, hi = band
    return [VOCAB[r] for r in rng.choice(np.arange(lo, hi), size=k, replace=False)]


def search_mix(seed: int, variants: int) -> list[tuple[str, dict]]:
    """``variants`` seeded draws of each request class, as (class, params).

    The classes are bench.py's query shapes plus a count-only request and a
    date_histogram aggregation. Phrase terms come from the mid band: a
    common-term phrase is a candidate in nearly every doc, which would make
    the oracle's position scan, not the engine, the cost of the check."""
    rng = np.random.Generator(np.random.PCG64([seed, 0x5EA]))
    day = dt.timedelta(days=1)
    out: list[tuple[str, dict]] = []
    for _ in range(variants):
        c1, c2 = _band(rng, COMMON, 2)
        m1, m2, m3, m4 = _band(rng, MID, 4)
        r1, r2, r3, r4 = _band(rng, RARE, 4)
        d0 = BASE_TS + int(rng.integers(1, 14)) * day
        iso = "%Y-%m-%dT%H:%M:%S"
        out += [
            ("term_rare", {"query": r1, "max_hits": 10}),
            ("term_common", {"query": c1, "max_hits": 10}),
            ("and", {"query": f"{c2} {m1}", "max_hits": 10}),
            ("or", {"query": f"{m2} OR {m3}", "max_hits": 10}),
            ("not", {"query": f"{c1} -{m4}", "max_hits": 10}),
            ("termset", {"query": f"text:IN [{r2} {r3} {r4}]", "max_hits": 10}),
            ("phrase", {"query": f'"{m1} {m2}"', "max_hits": 10}),
            ("sort_ts", {"query": m3, "max_hits": 10, "sort_by_field": "warc_ts"}),
            ("paged", {"query": m4, "max_hits": 10, "start_offset": 10}),
            (
                "time_range",
                {
                    "query": c2,
                    "max_hits": 10,
                    "start_timestamp": d0.strftime(iso),
                    "end_timestamp": (d0 + 5 * day).strftime(iso),
                },
            ),
            ("count", {"query": f"{c1} {m2}", "max_hits": 0}),
            (
                "date_hist",
                {
                    "query": m1,
                    "max_hits": 0,
                    "aggs": {
                        "t": {
                            "date_histogram": {
                                "field": "warc_ts",
                                "fixed_interval": "1d",
                            }
                        }
                    },
                },
            ),
        ]
    return out
