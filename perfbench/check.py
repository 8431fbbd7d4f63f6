"""Correctness of every operation, checked after the timed window.

Search responses are checked against ``quickwit_spark/oracle.py``, a
pure-Python BM25 engine that shares no scoring code with the Spark engine.
Its per-split state is loaded from the engine's docstore (split and docid
assignment) and from the generator's own token ids (content), so the oracle
never reads the postings the engine built. Only the terms the request mix
uses get posting maps; doc lengths and positions come from the generator.

A REST response renders hits without ``split_id``/``docid``/``score``, so
the benchmark keeps the rows ``search_endpoint`` collected (``HitCapture``).
A search response passes when

* those ``(split_id, docid, score)`` rows equal the oracle's page, scores
  within 1e-9, and the rendered hits carry the same urls in that order;
* ``num_hits`` equals the oracle's match count;
* aggregation buckets equal the oracle's per-day counts and sum to
  ``num_hits``;

and the index's docstore holds every input doc exactly once.

An ingest run passes when every probe's ``num_hits`` equals the docs
ingested so far, the published splits hold exactly that many docs, and no
published split lacks its docstore or postings objects.

Before checking real responses, each run feeds the checker known-good
answers (the oracle's own, for search; a small synthetic index record, for
ingest), which must pass, and deliberately corrupted copies of them, which
must all fail: ``selftest_*`` return what slipped through.
"""

from __future__ import annotations

import copy
import datetime as dt
import functools
from collections import Counter

import numpy as np
import pyarrow.dataset as ds

from quickwit_spark import oracle as oracle_mod
from quickwit_spark.oracle import OracleIndex, OracleSplit
from quickwit_spark.plans.query import Bool, Phrase, Term, TermSet, parse_query

import corpus

SCORE_TOL = 1e-9
EPOCH = dt.datetime(1970, 1, 1)
DAY_S = 86_400

# the oracle quantizes each doc length through numpy scalar calls (~20 us);
# lengths are 8..2048, so memoizing the pure function keeps a 60k-doc check
# to seconds without touching the oracle's arithmetic
oracle_mod.quantize_len = functools.lru_cache(maxsize=None)(oracle_mod.quantize_len)


class _Doc:
    """A doc's token list, materialised only when the oracle iterates it
    (phrase positions); ``len`` is all BM25 needs."""

    __slots__ = ("corpus", "i")

    def __init__(self, c: corpus.Corpus, i: int):
        self.corpus, self.i = c, i

    def __len__(self) -> int:
        return int(self.corpus.lens[self.i])

    def __iter__(self):
        return iter(self.corpus.tokens(self.i))


def _terms(node, out: set[str]) -> set[str]:
    if isinstance(node, Term):
        out.add(node.value)
    elif isinstance(node, TermSet):
        out.update(node.values)
    elif isinstance(node, Phrase):
        out.update(node.text.split())
    elif isinstance(node, Bool):
        for c in node.must + node.should + node.must_not:
            _terms(c, out)
    return out


class _Oracle(OracleIndex):
    """The oracle with its per-(split, term) BM25 maps memoized: the mix
    reuses terms across request classes, and the maps are pure functions of
    the split state."""

    def __init__(self):
        super().__init__(quantize=True)
        self._scores: dict = {}

    def term_scores(self, sp, term):
        key = (sp.split_id, term)
        if key not in self._scores:
            self._scores[key] = super().term_scores(sp, term)
        return self._scores[key]


def build_oracle(index_dir: str, c: corpus.Corpus,
                 queries: list[str]) -> tuple[OracleIndex, list[str]]:
    """Oracle over the index's docs, with postings for ``queries``' terms,
    and the problems found on the way: the split/docid assignment comes from
    the engine's docstore, so a doc missing from it, or stored twice, would
    otherwise vanish from the oracle too."""
    store = ds.dataset(f"{index_dir}/docstore", format="parquet",
                       partitioning="hive").to_table(columns=["split_id", "docid", "url"])
    idx = np.array([corpus.id_of(u) for u in store.column("url").to_pylist()]) - c.ids[0]
    problems = []
    if len(idx) != len(c) or len(np.unique(idx)) != len(c):
        problems.append(f"docstore holds {len(np.unique(idx))} distinct of {len(c)} docs "
                        f"in {len(idx)} rows")
    split_ids = store.column("split_id").to_pylist()
    docids = store.column("docid").to_numpy()
    oracle = _Oracle()
    where: dict[int, tuple[OracleSplit, int]] = {}
    for sid, d, i in zip(split_ids, docids.tolist(), idx.tolist()):
        sp = oracle.splits.get(sid) or oracle.splits.setdefault(sid, OracleSplit(sid))
        sp.docs[d] = _Doc(c, i)
        sp.ts[d] = c.ts(i)
        sp.num_docs += 1
        sp.total_tokens += int(c.lens[i])
        where[i] = (sp, d)
    wanted = set()
    for q in queries:
        _terms(parse_query(q), wanted)
    ranks = np.array(sorted(int(t[1:]) for t in wanted if t[1:].isdigit() and t[0] == "w"))
    doc_of_tok = np.repeat(np.arange(len(c)), c.lens)
    hit = np.isin(c.ranks, ranks)
    keys, counts = np.unique(
        doc_of_tok[hit].astype(np.int64) * corpus.VOCAB_SIZE + c.ranks[hit], return_counts=True
    )
    for key, n in zip(keys.tolist(), counts.tolist()):
        i, r = divmod(key, corpus.VOCAB_SIZE)
        if i in where:
            sp, d = where[i]
            sp.tf.setdefault(corpus.VOCAB[r], {})[d] = n
    return oracle, problems


def expected(oracle: OracleIndex, params: dict) -> dict:
    """The oracle's answer to one REST request: the hit page rows,
    num_hits and, for a date_histogram, the per-day bucket counts."""
    parse = lambda s: dt.datetime.fromisoformat(s) if s else None  # noqa: E731
    kw = dict(
        sort_by_field="ts" if params.get("sort_by_field") == "warc_ts" else None,
        start_timestamp=parse(params.get("start_timestamp")),
        end_timestamp=parse(params.get("end_timestamp")),
    )
    everything = oracle.search_request(params["query"], k=10**9, **kw)
    k, off = params.get("max_hits", 20), params.get("start_offset", 0)
    out = {"num_hits": len(everything), "rows": everything[off:off + k] if k else []}
    if params.get("aggs"):
        days: Counter = Counter()
        for sid, d, _ in everything:
            secs = (oracle.splits[sid].ts[d] - EPOCH).total_seconds()
            days[int(secs // DAY_S * DAY_S)] += 1
        out["buckets"] = dict(days)
    return out


def url_of_row(oracle: OracleIndex, c: corpus.Corpus, sid: str, d: int) -> str:
    return c.url(oracle.splits[sid].docs[d].i)


def search_problems(exp: dict, rec: dict, urls: list[str]) -> list[str]:
    """Why ``rec`` (a recorded response) differs from ``exp``; [] if equal.
    ``urls`` are the urls of the expected rows."""
    if rec.get("error"):
        return [f"raised {rec['error']}"]
    bad = []
    if rec["num_hits"] != exp["num_hits"]:
        bad.append(f"num_hits {rec['num_hits']} != {exp['num_hits']}")
    rows = rec["rows"] or []
    if len(rows) != len(exp["rows"]):
        bad.append(f"{len(rows)} hit rows != {len(exp['rows'])}")
    for (s, d, x), (es, ed, ex) in zip(rows, exp["rows"]):
        if (s, d) != (es, ed) or not abs(x - ex) <= SCORE_TOL:
            bad.append(f"hit {(s, d, x)} != oracle {(es, ed, ex)}")
            break
    if rec["hit_urls"] != urls:
        bad.append("rendered hits do not match the oracle's docs")
    if "buckets" in exp:
        got = rec["buckets"]
        if got is None or sum(got.values()) != rec["num_hits"]:
            bad.append("aggregation buckets do not sum to num_hits")
        elif got != exp["buckets"]:
            bad.append("aggregation buckets != oracle per-day counts")
    return bad


def answer(exp: dict, urls: list[str]) -> dict:
    """A response equal to the oracle's answer, in recorded form."""
    return {
        "num_hits": exp["num_hits"],
        "rows": [tuple(r) for r in exp["rows"]],
        "hit_urls": list(urls),
        "buckets": dict(exp["buckets"]) if "buckets" in exp else None,
        "error": None,
    }


def _corruptions(rec: dict) -> list[tuple[str, dict]]:
    out = []

    def variant(name, fn):
        r = copy.deepcopy(rec)
        fn(r)
        out.append((name, r))

    variant("num_hits+1", lambda r: r.update(num_hits=r["num_hits"] + 1))
    variant("raised", lambda r: r.update(error="RuntimeError"))
    if rec["rows"]:
        def score(r):
            s, d, x = r["rows"][-1]
            r["rows"][-1] = (s, d, x * (1 + 1e-7) + 1e-7)

        def docid(r):
            s, d, x = r["rows"][0]
            r["rows"][0] = (s, d + 1, x)

        variant("score", score)
        variant("docid", docid)
        variant("dropped hit", lambda r: (r["rows"].pop(), r["hit_urls"].pop()))
        variant("wrong rendered doc", lambda r: r["hit_urls"].__setitem__(0, "x"))
        if len(rec["rows"]) > 1:
            variant("swapped hits", lambda r: r["rows"].reverse())
    if rec["buckets"]:
        def bucket(r):
            k = next(iter(r["buckets"]))
            r["buckets"][k] += 1
            r["num_hits"] += 1

        variant("bucket count", bucket)
        variant("bucket key", lambda r: r["buckets"].update(
            {k + DAY_S: v for k, v in [r["buckets"].popitem()]}))
    return out


def selftest_search(cases: list[tuple[dict, list[str]]]) -> list[str]:
    """Problems with the checker itself: an oracle answer it rejects, or a
    corrupted answer it accepts."""
    missed = []
    for exp, urls in cases:
        good = answer(exp, urls)
        if search_problems(exp, good, urls):
            missed.append("rejected the oracle's own answer")
        for name, bad in _corruptions(good):
            if not search_problems(exp, bad, urls):
                missed.append(f"accepted corruption: {name}")
    return missed


def probe_ok(p: dict) -> bool:
    """A probe answered, and counted every doc ingested before it."""
    return not p.get("error") and p["num_hits"] == p["expected"]


def ingest_problems(probes: list[dict], published: list[tuple[str, int]],
                    objects: set[str], expected_docs: int) -> list[str]:
    """``probes``: [{"num_hits", "expected", "error"}]; ``published``:
    (split_id, num_docs) of each published split; ``objects``: every object
    key under the index root."""
    bad = [
        f"probe counted {p['num_hits']} != {p['expected']} docs ingested"
        for p in probes if not probe_ok(p)
    ]
    if sum(n for _, n in published) != expected_docs:
        bad.append("published splits do not hold every ingested doc")
    prefixes = {k.split("/", 2)[0] + "/" + k.split("/", 2)[1]
                for k in objects if k.count("/") >= 2}
    for sid, _ in published:
        for sub in ("docstore", "postings"):
            if f"{sub}/split_id={sid}" not in prefixes:
                bad.append(f"published split {sid} has no {sub} objects")
    return bad


def selftest_ingest() -> list[str]:
    """The ingest checks on a small known-good record and corruptions of it."""
    published = [("s1", 3), ("s2", 4)]
    objects = {f"{sub}/split_id={sid}/part-0.parquet"
               for sid, _ in published for sub in ("docstore", "postings")}
    good = [{"num_hits": 3, "expected": 3, "error": None},
            {"num_hits": 7, "expected": 7, "error": None}]
    missed = []
    if ingest_problems(good, published, objects, 7):
        missed.append("rejected a correct ingest record")
    corrupt = {
        "probe count": (
            [good[0], dict(good[1], num_hits=6)], published, objects),
        "probe raised": (
            [good[0], dict(good[1], error="RuntimeError")], published, objects),
        "missing postings object": (
            good, published, objects - {"postings/split_id=s2/part-0.parquet"}),
        "lost split": (good, published[:1], objects),
    }
    for name, (probes, pub, objs) in corrupt.items():
        if not ingest_problems(probes, pub, objs, 7):
            missed.append(f"accepted corruption: {name}")
    return missed
