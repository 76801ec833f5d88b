"""Serve benchmark for the anisearch_model_spark engine.

Runs the engine the way its users do: one long-lived ``cli.serve_loop``
session (query log on, as ``serve`` has it by default) answering plain
search requests from one closed-loop client, on an index built from a
seeded ``datagen`` corpus.  It times only calls into the engine's public
functions, from outside, checks every response against the single-node
oracle and the query log, and prints one JSON result line.

    python3 perfbench/run.py --workload serve_hot --seed 1 --seconds 10 --trace 0

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
metrics of a traced window, of one request per non-plain route and of one
streaming append (see perfbench/README.md).  Everything the run writes
lives under ``.perfbench_work/`` in the checkout and is removed at exit.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
from collections import Counter

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")

# 32k turns in one bucket: a selective term (df < 128) stays one posting
# block, so decode separates the workloads by far more than 100x, while
# set-up and the output check stay affordable (README "Scale")
N_TURNS = 32_000
NUM_BUCKETS = 1
# the traced run's route session: a role-split index (the field routes
# need one) and one streaming append onto it
ROUTE_TURNS = 8_000
APPEND_TURNS = 2_000
CORES = 4
K = 10
WARMUP_REQUESTS = 3  # README "Scale": request 1 is the slow outlier
WINDOW = 5  # requests per warm-up evidence window

# query bands, taken from the built dictionary's df ranks so that every
# seed gets the same bands: (pool of terms by df rank, terms per request)
WORKLOADS = {
    "serve_hot": {"pool": "top", "pool_size": 20, "terms": (12,)},
    "serve_selective": {"pool": "bottom", "pool_size": 400, "terms": (2,)},
}

# serve-request key of each non-plain route → the public function
# (module under anisearch_model_spark.query, name) that serve_loop calls
ROUTES = {
    "phrase": ("phrase", "phrase_search"),
    "boolean": ("boolean", "boolean_search"),
    "bm25f_fields": ("bm25f", "search_bm25f"),
    "synonyms": ("synonyms", "search_synonyms"),
    "facets": ("facets", "facet_counts"),
    "mlt": ("mlt", "more_like_this"),
    "conversations": ("multifield", "search_conversations"),
    "fields": ("multifield", "search_fields"),
}

BUILD_PHASES = ("bucket_assign", "doc_map_write", "positions_build",
                "postings_build", "checkpoints", "finalize")
INDEX_TABLES = ("postings", "positions", "dictionary", "doc_map")


def _confine_to(run_dir: str) -> str:
    """Point every temp location of Python, the JVMs and Spark at
    ``run_dir`` so the run writes nothing outside the checkout."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    tempfile.tempdir = tmp
    return tmp


def _start_spark(run_dir: str, tmp: str):
    """The engine's own session factory, with its package zip and JVM temp
    dir redirected into ``run_dir``."""
    from anisearch_model_spark import session

    zip_path = os.path.join(run_dir, "pyfiles.zip")
    package_zip = session.package_zip
    session.package_zip = lambda dest=None: package_zip(zip_path)
    try:
        return session.get_spark(
            app_name="perfbench", cores=CORES,
            extra_conf={
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
                "spark.local.dir": tmp,
                "spark.ui.showConsoleProgress": "false",
            })
    finally:
        session.package_zip = package_zip


def _stop_spark(spark) -> None:
    """Stop the session, then end the gateway JVM (and with it the Python
    workers) and wait for it."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
        gateway.shutdown()
    finally:
        if proc is not None:
            proc.stdin.close()  # the gateway exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def _host_probe() -> float:
    """``bench.py``'s ``_host_probe`` reading, taken in a child process so
    the probe's ~320 MB never enters this process's peak RSS."""
    out = subprocess.run(
        [sys.executable, "-c", "import bench; print(bench._host_probe())"],
        cwd=ROOT, capture_output=True, text=True, timeout=120, check=True)
    return float(out.stdout.split()[-1])


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def _tree_peak_rss_mb() -> float:
    """Sum of the peak resident sets (VmHWM) of this process and all its
    descendants: this Python process, the Spark JVM and its Python
    workers."""
    children: dict[int, list[int]] = {}
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat", encoding="utf-8") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(p))
    todo, kb = [os.getpid()], 0
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        try:
            with open(f"/proc/{pid}/status", encoding="utf-8") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            continue
    return kb / 1024.0


def _percentile(values: list[float], q: int) -> float:
    if len(values) < 2:  # a window that fit one request
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


# ---------------------------------------------------------------- requests


def _term_pools(index_dir: str) -> "pd.Series":
    """term → df over the built dictionary, highest df first."""
    import pyarrow.dataset as pads

    d = pads.dataset(os.path.join(index_dir, "dictionary"),
                     format="parquet").to_table(columns=["term", "df"])
    dfs = d.to_pandas().groupby("term")["df"].sum()
    return dfs.sort_values(ascending=False, kind="mergesort")


def term_pool(workload: str, dfs) -> list[str]:
    spec = WORKLOADS[workload]
    terms = list(dfs.index)
    return (terms[: spec["pool_size"]] if spec["pool"] == "top"
            else terms[-spec["pool_size"]:])


def request_stream(workload: str, seed: int, pool: list[str]):
    """Endless seeded plain requests for a workload's df band."""
    rng = random.Random(seed)
    while True:
        n = rng.choice(WORKLOADS[workload]["terms"])
        yield {"query": " ".join(rng.sample(pool, n)), "k": K}


def route_of(req: dict) -> str | None:
    return next((r for r in ROUTES if r in req), None)


def route_requests(text: str, pool: list[str], docs) -> list[dict]:
    """One request per non-plain route, all from one plain request's
    terms: a phrase and an mlt source taken from the first doc (by doc_id)
    of the route corpus where the text's first term is followed by a
    plain word, the text's last term as the prohibited boolean clause
    (when it has three or more), and the first pool term not in the text
    as a synonym of its first term."""
    terms = text.split()
    phrase, source = f"{terms[0]} {terms[-1]}", 0
    for doc_id, body in zip(docs["doc_id"], docs["text"]):
        words = body.split()
        hit = next((f"{a} {b}" for a, b in zip(words, words[1:])
                    if a == terms[0] and b.isalnum()), None)
        if hit:
            phrase, source = hit, int(doc_id)
            break
    boolean = (f"+{terms[0]} " + " ".join(terms[1:-1]) + f" -{terms[-1]}"
               if len(terms) >= 3 else f"+{terms[0]} " + " ".join(terms[1:]))
    synonym = next(t for t in pool if t not in terms)
    return [
        {"query": phrase, "phrase": True, "k": K},
        {"query": boolean, "boolean": True, "k": K},
        {"query": text, "bm25f_fields": {"user": 1.0, "assistant": 0.5},
         "k": K},
        {"query": text, "synonyms": {terms[0]: [synonym]}, "k": K},
        {"query": text, "facets": "role", "k": K},
        {"mlt": source, "k": K},
        {"query": text, "conversations": True, "k": K},
        {"query": text, "fields": ["user", "assistant"], "k": K},
    ]


class Client:
    """One closed-loop client feeding ``serve_loop``: the loop pulls the
    next request line only after it has written the previous response, so
    a request's latency is the time from handing its line over to the
    write of its response line."""

    def __init__(self):
        self.on_send = None  # hooks for the tracer, called with the index
        self.on_response = None
        self.sent: list[dict] = []
        self.tags: list[str] = []  # which session/phase sent the request
        self.responses: list[str] = []
        self.latency_s: list[float] = []
        self._t_send = 0.0

    def lines(self, requests, tag: str, n: int | None = None,
              seconds: float | None = None):
        """Yield request lines from ``requests``: ``n`` of them, or as
        many as start within ``seconds``."""
        t0 = time.perf_counter()
        i = 0
        while (n is None or i < n) and (
                seconds is None or time.perf_counter() - t0 < seconds):
            req = next(requests)
            self.sent.append(req)
            self.tags.append(tag)
            if self.on_send:
                self.on_send(len(self.sent) - 1)
            i += 1
            self._t_send = time.perf_counter()
            yield json.dumps(req)

    def write(self, line: str) -> None:
        self.latency_s.append(time.perf_counter() - self._t_send)
        self.responses.append(line)
        if self.on_response:
            self.on_response(len(self.responses) - 1)

    def flush(self) -> None:
        pass


def serve(spark, index_dir: str, client: Client, phases) -> list[tuple]:
    """One serve_loop session over consecutive phases ``(name, requests,
    n, seconds, before, tag)``; ``before()`` runs untimed between phases.
    Returns (phase, first request, end request, wall seconds) per phase."""
    from anisearch_model_spark.cli import serve_loop

    marks: list[tuple] = []

    def lines():
        for name, requests, n, seconds, before, tag in phases:
            if before:
                before()
            first = len(client.sent)
            t0 = time.perf_counter()
            # resumes only when serve_loop asks for the line after the
            # phase's last response, so the phase wall ends there
            yield from client.lines(requests, tag, n=n, seconds=seconds)
            marks.append((name, first, len(client.sent),
                          time.perf_counter() - t0))

    serve_loop(spark, index_dir, lines(), client)
    return marks


# ------------------------------------------------------------ output check


def read_docs(index_dir: str):
    """The built doc_map, read with pyarrow (not through the engine)."""
    import pyarrow.dataset as pads

    return pads.dataset(os.path.join(index_dir, "doc_map"), format="parquet",
                        partitioning="hive").to_table(
        columns=["doc_id", "conv_id", "turn_idx", "role", "text"]
    ).to_pandas().sort_values("doc_id").reset_index(drop=True)


def folded_oracle(docs):
    """``query.oracle.OracleIndex`` with two changes that keep it
    affordable in every run, neither touching the arithmetic: the state is
    built from ``term_frequency_frame`` alone (the oracle's own postings
    source; doc lengths are its per-doc token counts, so N, avgdl and df
    are the same numbers), and the per-posting Python fold becomes
    ``np.add.at`` over the same partials in the same ascending term order.
    ``OracleIndex`` itself takes several times longer (README "Output
    check").  The traced run checks that the two agree."""
    import numpy as np
    import pandas as pd

    from anisearch_model_spark.config import BM25Params
    from anisearch_model_spark.functions.normalize import (
        bm25_idf,
        bm25_term_score,
        term_frequency_frame,
    )
    from anisearch_model_spark.query.oracle import OracleIndex

    class FoldedOracle(OracleIndex):
        def __init__(self, corpus):  # noqa: D107 — state as OracleIndex's
            self.params = BM25Params()
            self.postings = term_frequency_frame(corpus["doc_id"],
                                                 corpus["text"])
            self.n_docs = len(corpus)
            self.avgdl = (float(self.postings["tf"].sum()) / self.n_docs
                          if self.n_docs else 0.0)
            codes, terms = pd.factorize(self.postings["term"])
            self.df = pd.Series(np.bincount(codes), index=terms)
            order = np.argsort(codes, kind="stable")
            bounds = np.searchsorted(codes[order], np.arange(len(terms) + 1))
            self._rows = {t: order[bounds[i]:bounds[i + 1]]
                          for i, t in enumerate(terms)}
            self._doc = self.postings["doc_id"].to_numpy("int64")
            self._tf = self.postings["tf"].to_numpy()
            self._dl = self.postings["doc_len"].to_numpy()

        def score(self, query_text):
            terms = [t for t in self.query_terms(query_text) if t in self._rows]
            if not terms or self.avgdl == 0.0:
                return pd.DataFrame({"doc_id": pd.Series(dtype="int64"),
                                     "score": pd.Series(dtype="float64")})
            k1, b = self.params.k1, self.params.b
            docs_all = np.unique(np.concatenate(
                [self._doc[self._rows[t]] for t in terms]))
            acc = np.zeros(len(docs_all), dtype="float64")
            for t in terms:  # ascending term order, as OracleIndex.score
                r = self._rows[t]
                idf = bm25_idf(np.array([self.df[t]]), self.n_docs)[0]
                partial = bm25_term_score(self._tf[r], self._dl[r],
                                          np.full(len(r), idf), self.avgdl,
                                          k1, b)
                np.add.at(acc, np.searchsorted(docs_all, self._doc[r]), partial)
            return pd.DataFrame({"doc_id": docs_all, "score": acc})

    return FoldedOracle(docs)


def _ranked(scored, k: int) -> list[tuple]:
    """(rank, doc_id, score) of the top k: score DESC, doc_id ASC."""
    top = scored.sort_values(["score", "doc_id"], ascending=[False, True],
                             kind="mergesort").head(k)
    return [(i + 1, int(d), float(s))
            for i, (d, s) in enumerate(zip(top["doc_id"], top["score"]))]


def _triples(rows) -> list[tuple]:
    return [(int(r["rank"]), int(r["doc_id"]), float(r["score"]))
            for r in rows]


def plain_expected(oracle, meta, req: dict) -> list[tuple]:
    """The oracle's top-k with the doc_map fields a plain response
    carries."""
    out = []
    for rank, doc_id, score in _ranked(oracle.score(req["query"]), K):
        m = meta.loc[doc_id]
        out.append((rank, doc_id, score, m["conv_id"], int(m["turn_idx"]),
                    m["role"]))
    return out


def plain_got(rows) -> list[tuple]:
    return [(int(r["rank"]), int(r["doc_id"]), float(r["score"]),
             r["conv_id"], int(r["turn_idx"]), r["role"]) for r in rows]


def route_expected(oracle, docs, req: dict):
    """Expected rows of a route request, and how to read them from a
    response, for the routes with an exhaustive comparator over the
    oracle; ``None`` for the others (bm25f_fields, synonyms, mlt, fields),
    whose responses are checked only for errors and their log row."""
    route = route_of(req)
    if route == "phrase":
        top = oracle.phrase_topk(req["query"], K)
        return _ranked(top, K), _triples
    if route == "boolean":
        clauses = req["query"].split()
        must = [c[1:] for c in clauses if c.startswith("+")]
        never = [c[1:] for c in clauses if c.startswith("-")]
        scoring = [c.lstrip("+") for c in clauses if not c.startswith("-")]
        scored = oracle.score(" ".join(scoring))
        post = oracle.postings
        keep = scored["doc_id"].isin(set.intersection(
            *[set(post.loc[post["term"] == t, "doc_id"]) for t in must]))
        for t in never:
            keep &= ~scored["doc_id"].isin(post.loc[post["term"] == t,
                                                    "doc_id"])
        return _ranked(scored[keep], K), _triples
    if route not in ("facets", "conversations"):
        return None
    j = oracle.score(req["query"]).merge(
        docs[["doc_id", "conv_id", "role"]], on="doc_id")
    if route == "facets":
        agg = (j.groupby("role").agg(n_docs=("doc_id", "size"),
                                     top_score=("score", "max"))
               .reset_index().sort_values(["n_docs", "role"],
                                          ascending=[False, True]))
        return ([(f, int(n), float(s)) for f, n, s in
                 zip(agg["role"], agg["n_docs"], agg["top_score"])],
                lambda rows: [(r["facet"], int(r["n_docs"]),
                               float(r["top_score"])) for r in rows])
    # conversations: best turn per conversation (score DESC, role ASC,
    # doc_id ASC), then (score DESC, doc_id ASC)
    best = j.sort_values(["score", "role", "doc_id"],
                         ascending=[False, True, True],
                         kind="mergesort").drop_duplicates("conv_id")
    best = best.sort_values(["score", "doc_id"], ascending=[False, True],
                            kind="mergesort").head(K)
    return ([(i + 1, c, int(d), float(s)) for i, (c, d, s) in enumerate(
                zip(best["conv_id"], best["doc_id"], best["score"]))],
            lambda rows: [(int(r["rank"]), r["conv_id"], int(r["doc_id"]),
                           float(r["score"])) for r in rows])


def check_query_log(index_dir: str, pairs: list[tuple]) -> list[bool]:
    """Per (request, response) served on ``index_dir``: True when the
    query log holds a row for it with the response's result count and
    result hash.  Each log row answers one response; a row left over
    marks one more response as failed.  ``serve_loop`` only warns when a
    log write fails, so a lost or wrong row shows here and nowhere else."""
    import pyarrow.dataset as pads

    from anisearch_model_spark.query.log import result_hash

    try:
        logged = pads.dataset(os.path.join(index_dir, "query_log"),
                              format="parquet").to_table(
            columns=["query_text", "n_results", "result_hash"]).to_pylist()
    except (FileNotFoundError, OSError):
        logged = []
    rows = Counter((r["query_text"], r["n_results"], r["result_hash"])
                   for r in logged)
    ok = []
    for req, resp in pairs:
        if "error" in resp:
            ok.append(False)
            continue
        res = resp["results"]
        ranked = bool(res) and {"rank", "doc_id", "score"} <= set(res[0])
        key = (req.get("query", f"mlt:{req.get('mlt')}"), len(res),
               result_hash(_triples(res) if ranked else []))
        ok.append(rows[key] > 0)
        rows[key] -= 1
    left = sum(n for n in rows.values() if n > 0)
    for i in range(len(ok)):
        if left and ok[i]:
            ok[i], left = False, left - 1
    return ok


def check_responses(client: Client, indices: list[int], expect) -> list[bool]:
    """Per request in ``indices``: True when its response is a result and
    ``expect(request)`` is ``None`` or ``(expected rows, reader)`` with
    ``reader(response rows) == expected rows``.  Expectations are computed
    once per distinct request."""
    cache: dict[str, object] = {}
    ok = []
    for i in indices:
        resp = json.loads(client.responses[i])
        if "error" in resp:
            ok.append(False)
            continue
        key = json.dumps(client.sent[i], sort_keys=True)
        if key not in cache:
            cache[key] = expect(client.sent[i])
        e = cache[key]
        ok.append(e is None or e[1](resp["results"]) == e[0])
    return ok


# ------------------------------------------------------------------ tracing


class Tracer:
    """In-memory spans around the engine's public functions, recorded from
    outside by swapping module attributes, plus per-request Spark job
    groups counted with the status tracker.  Spans are kept in a list and
    reduced once, at the end of the run."""

    def __init__(self, spark, index_dir: str):
        import pyarrow.dataset as pads

        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[list] = []  # [request, name, parent, start, end]
        self.stack: list[int] = []
        self.request = -1
        self.groups: dict[int, list[str]] = {}
        self.counters: dict[int, dict[str, float]] = {}
        self._undo: list[tuple] = []
        self._terms: list[str] = []
        self.active = False
        blocks = pads.dataset(os.path.join(index_dir, "postings"),
                              format="parquet", partitioning="hive").to_table(
            columns=["term", "n"]).to_pandas().groupby("term")["n"]
        self.term_blocks = blocks.size().to_dict()
        self.term_postings = blocks.sum().to_dict()

    # spans
    def _open(self, name: str) -> int:
        self.spans.append([self.request, name,
                           self.stack[-1] if self.stack else None,
                           time.perf_counter(), None])
        self.stack.append(len(self.spans) - 1)
        return self.stack[-1]

    def _close(self, i: int) -> None:
        self.spans[i][4] = time.perf_counter()
        self.stack.pop()

    def _group(self, suffix: str = "") -> str:
        g = f"perfbench-{self.request}{suffix}"
        if g not in self.groups[self.request]:
            self.groups[self.request].append(g)
        self.sc.setJobGroup(g, g)
        return g

    def begin_request(self, i: int) -> None:
        if not self.active:
            return
        self.request = i
        self.groups[i] = []
        self.counters[i] = {}
        self._group()
        self._open("cli.serve_loop")

    def end_request(self, _i: int) -> None:
        if not self.stack:
            return
        self._close(self.stack[0])
        self.stack.clear()
        # work between requests (the append) stays out of their groups
        self.sc.setJobGroup("perfbench-between", "perfbench-between")

    # instrumentation
    def _patch(self, module, attr: str, fn) -> None:
        self._undo.append((module, attr, getattr(module, attr)))
        setattr(module, attr, fn)

    def _spanned(self, name: str, fn, jobs: bool = False):
        def wrapper(*args, **kwargs):
            if not self.stack:  # outside a traced request: pass through
                return fn(*args, **kwargs)
            if jobs:
                self._group(":" + name)
            i = self._open(name)
            try:
                return fn(*args, **kwargs)
            finally:
                self._close(i)
                if jobs:
                    self._group()
        return wrapper

    def _lazy_spanned(self, name: str, fn):
        """A span around a function that returns a lazy DataFrame, and one
        of the same name around the ``collect`` that runs it."""
        planned = self._spanned(name, fn, jobs=True)

        def wrapper(*args, **kwargs):
            df = planned(*args, **kwargs)
            if self.stack:
                df.collect = self._spanned(name, df.collect, jobs=True)
            return df
        return wrapper

    def install(self) -> None:
        """Swap in the span wrappers.  ``serve_loop`` binds ``search`` and
        ``log_query`` when it starts, so this runs before the sessions;
        the wrappers pass through until ``activate``.  The route functions
        are looked up by ``serve_loop`` per request."""
        from anisearch_model_spark.query import engine, log

        resolve = engine.resolve_query_idf

        def resolve_query_idf(*args, **kwargs):
            idf = resolve(*args, **kwargs)
            self._terms = list(idf)
            return idf

        topk = engine.topk_bmw

        def topk_bmw(index, query_text, k=10, params=None,
                     decode_counter=None, **kwargs):
            """Plans under this span; the scoring job runs when ``search``
            collects the plan, so that collect gets a span of the same
            name (its own job group and the block counters)."""
            if not self.stack:
                return topk(index, query_text, k, params,
                            decode_counter=decode_counter, **kwargs)
            acc = self.sc.accumulator(0)
            df = topk(index, query_text, k, params, decode_counter=acc,
                      **kwargs)
            terms = list(self._terms)
            collect = df.collect

            def traced_collect():
                rows = self._spanned("query.engine.topk_bmw", collect,
                                     jobs=True)()
                c = self.counters[self.request]
                c["blocks_decoded"] = c.get("blocks_decoded", 0) + acc.value
                c["blocks_scanned"] = c.get("blocks_scanned", 0) + sum(
                    self.term_blocks.get(t, 0) for t in terms)
                c["postings"] = c.get("postings", 0) + sum(
                    self.term_postings.get(t, 0) for t in terms)
                return rows

            df.collect = traced_collect
            return df

        self._patch(engine, "parse_query",
                    self._spanned("query.engine.parse_query",
                                  engine.parse_query))
        self._patch(engine, "resolve_query_idf",
                    self._spanned("query.engine.resolve_query_idf",
                                  resolve_query_idf))
        self._patch(engine, "topk_bmw",
                    self._spanned("query.engine.topk_bmw", topk_bmw))
        self._patch(engine, "fetch_doc_rows",
                    self._spanned("query.engine.fetch_doc_rows",
                                  engine.fetch_doc_rows))
        self._patch(engine, "search",
                    self._spanned("query.engine.search", engine.search))
        self._patch(log, "log_query",
                    self._spanned("query.log.log_query", log.log_query,
                                  jobs=True))
        for module_name, fn in ROUTES.values():
            module = importlib.import_module(
                f"anisearch_model_spark.query.{module_name}")
            self._patch(module, fn, self._lazy_spanned(
                f"query.{module_name}.{fn}", getattr(module, fn)))

    def activate(self) -> None:
        self.active = True

    def uninstall(self) -> None:
        while self._undo:
            module, attr, fn = self._undo.pop()
            setattr(module, attr, fn)
        self.active = False
        self.sc.setJobGroup("perfbench-untraced", "perfbench-untraced")

    # reduction
    def _jobs(self, groups: list[str]) -> tuple[int, int, int]:
        st = self.sc.statusTracker()
        jobs = tasks = failed = 0
        for g in groups:
            for jid in st.getJobIdsForGroup(g):
                jobs += 1
                info = st.getJobInfo(jid)
                for sid in (info.stageIds if info else []):
                    s = st.getStageInfo(sid)
                    if s:
                        tasks += s.numCompletedTasks
                        failed += s.numFailedTasks
        return jobs, tasks, failed

    def layer_metrics(self, plain: list[int],
                      routes: dict[int, str]) -> dict[str, float]:
        """Medians over the traced ``plain`` requests, and the time and
        jobs of each route request (``routes``: request → serve key)."""
        time.sleep(1.0)  # let the listener bus post the last job events
        reqs = [r for r in plain if r in self.groups]
        # self time: a span's duration minus its children's, summed per
        # request and layer, then the median over requests
        self_ms: dict[str, dict[int, float]] = {}
        for r, name, parent, t0, t1 in self.spans:
            dur = (t1 - t0) * 1000.0
            self_ms.setdefault(name, {}).setdefault(r, 0.0)
            self_ms[name][r] += dur
            if parent is not None:
                pname = self.spans[parent][1]
                self_ms.setdefault(pname, {}).setdefault(r, 0.0)
                self_ms[pname][r] -= dur
        out: dict[str, float] = {}
        for name, per_req in self_ms.items():
            if not name.startswith(("query.engine.", "query.log.", "cli.")):
                continue
            out[f"{name}.ms"] = statistics.median(per_req.get(r, 0.0) for r in reqs)
        out["trace.requests"] = len(reqs)
        for ctr in ("blocks_scanned", "blocks_decoded", "postings"):
            out[f"query.engine.topk_bmw.{ctr}"] = statistics.median(
                self.counters[r].get(ctr, 0) for r in reqs)
        fracs = [self.counters[r]["blocks_decoded"]
                 / self.counters[r]["blocks_scanned"]
                 for r in reqs if self.counters[r].get("blocks_scanned")]
        out["query.engine.topk_bmw.decoded_frac"] = (
            statistics.median(fracs) if fracs else 0.0)
        per_req = [self._jobs(self.groups[r]) for r in reqs]
        out["spark.jobs_per_request"] = statistics.median(j for j, _, _ in per_req)
        out["spark.tasks_per_request"] = statistics.median(t for _, t, _ in per_req)
        out["spark.failed_tasks"] = sum(f for _, _, f in per_req)
        for name in ("query.engine.topk_bmw", "query.log.log_query"):
            out[f"{name}.jobs"] = statistics.median(
                self._jobs([f"perfbench-{r}:{name}"])[0] for r in reqs)
        # a route's time: its spans (planning and collect) in full; its
        # jobs: all of the request's but the query-log write
        for r, route in routes.items():
            module_name, fn = ROUTES[route]
            name = f"query.{module_name}.{fn}"
            out[f"{name}.ms"] = sum((t1 - t0) * 1000.0 for q, n, _, t0, t1
                                    in self.spans if q == r and n == name)
            out[f"{name}.jobs"] = (
                self._jobs(self.groups[r])[0]
                - self._jobs([f"perfbench-{r}:query.log.log_query"])[0])
        return out


# ---------------------------------------------------------- route session


def route_session(spark, run_dir: str, seed: int, workload: str, pool,
                  client: Client, tracer: Tracer) -> tuple[dict, dict, int]:
    """The traced run's second serve session, over a role-split index:
    one request per non-plain route, then (between requests, with the
    session live) one timed ``incremental_append``, then one plain
    request.  That last response is compared with a freshly opened
    ``IndexStore``: ``IndexStore`` reads ``stats.json`` once and never
    invalidates its df cache, so a live session scores the appended
    buckets with the old N, avgdl and df (a known defect, reported as
    ``streaming.incremental.live_store_stale_rows``, not hidden by
    reopening the store).  Returns (metrics, evidence, failed checks)."""
    from anisearch_model_spark.datagen import (
        TRANSCRIPT_SCHEMA,
        gen_transcripts,
        gen_transcripts_pandas,
    )
    from anisearch_model_spark.index.store import build_index
    from anisearch_model_spark.query.engine import IndexStore, search
    from anisearch_model_spark.query.oracle import OracleIndex
    from anisearch_model_spark.streaming.incremental import incremental_append

    index_dir = os.path.join(run_dir, "route_index")
    t0 = time.perf_counter()
    build_index(spark, gen_transcripts(spark, ROUTE_TURNS, seed=seed),
                index_dir, num_buckets=1, field_col="role")
    build_s = time.perf_counter() - t0
    docs = read_docs(index_dir)
    text = next(request_stream(workload, seed + 1, pool))["query"]
    routes = route_requests(text, pool, docs)
    stream_dir = os.path.join(run_dir, "append_stream")
    spark.createDataFrame(
        gen_transcripts_pandas(APPEND_TURNS, seed=seed, conv_prefix="append-"),
        schema=TRANSCRIPT_SCHEMA).write.parquet(stream_dir)
    m: dict[str, float] = {}

    def append():
        t = time.perf_counter()
        incremental_append(spark, stream_dir, index_dir)
        m["streaming.incremental.incremental_append.s"] = (
            time.perf_counter() - t)
        with open(os.path.join(index_dir, "manifest.json"),
                  encoding="utf-8") as f:
            m["streaming.incremental.buckets_after_append"] = len(
                json.load(f)["buckets"])

    first = len(client.sent)
    serve(spark, index_dir, client, [
        ("routes", iter(routes), len(routes), None, None, "routes"),
        ("live", iter([{"query": text, "k": K}]), 1, None, append, "live"),
    ])
    tracer.uninstall()
    served = list(range(first, len(client.sent)))
    live = served[-1]
    fresh = _triples(search(IndexStore(spark, index_dir), text,
                            k=K).collect())

    # checks: routes against the oracle over the corpus they were served
    # on; the fresh store against the oracle over the grown corpus; the
    # folded oracle against OracleIndex; every response against the log
    oracle = OracleIndex(docs[["doc_id", "text"]])
    ok = check_responses(client, served[:-1],
                         lambda req: route_expected(oracle, docs, req))
    ok += check_responses(client, [live], lambda req: None)
    grown = read_docs(index_dir)
    fresh_ok = fresh == _ranked(folded_oracle(grown).score(text), K)
    folded = folded_oracle(docs)
    in_step = [folded.topk(q, K).equals(oracle.topk(q, K))
               for q in {text, client.sent[0]["query"]}]
    logged = check_query_log(index_dir, [
        (client.sent[i], json.loads(client.responses[i])) for i in served])
    ok = [a and b for a, b in zip(ok, logged)]

    live_rows = _triples(json.loads(client.responses[live])["results"])
    m["streaming.incremental.live_store_stale_rows"] = sum(
        a != b for a, b in zip(live_rows, fresh)) + abs(
        len(live_rows) - len(fresh))
    evidence = {
        "route_index": {"turns": ROUTE_TURNS, "append_turns": APPEND_TURNS,
                        "build_s": build_s},
        "route_requests": [
            {"route": route_of(client.sent[i]) or "plain-after-append",
             "request": client.sent[i],
             "latency_ms": client.latency_s[i] * 1000.0, "ok": good}
            for i, good in zip(served, ok)],
        "live_after_append": live_rows,
        "fresh_store": fresh,
        "fresh_store_matches_oracle": fresh_ok,
        "folded_oracle_in_step": in_step,
    }
    failed = ok.count(False) + (not fresh_ok) + in_step.count(False)
    return m, evidence, failed


# -------------------------------------------------------------------- main


def run(workload: str, seed: int, seconds: float, trace: bool,
        run_dir: str) -> tuple[dict, dict]:
    t_start = time.perf_counter()
    tmp = _confine_to(run_dir)
    spark = _start_spark(run_dir, tmp)
    try:
        from anisearch_model_spark.datagen import gen_transcripts
        from anisearch_model_spark.index.store import build_index

        t_session = time.perf_counter()
        index_dir = os.path.join(run_dir, "index")
        transcripts = gen_transcripts(spark, N_TURNS, seed=seed)
        t_gen = time.perf_counter()
        build = build_index(spark, transcripts, index_dir,
                            num_buckets=NUM_BUCKETS)
        t_setup = time.perf_counter()

        pool = term_pool(workload, _term_pools(index_dir))
        table_bytes = {t: _dir_bytes(os.path.join(index_dir, t))
                       for t in INDEX_TABLES}
        index_bytes = _dir_bytes(index_dir)
        client = Client()
        stream = request_stream(workload, seed, pool)
        tracer = Tracer(spark, index_dir) if trace else None
        # a traced run splits its measured time between an untraced and a
        # traced window, so its plain session costs what an untraced run's
        # does
        window = seconds / 2 if trace else seconds
        phases = [("warmup", stream, WARMUP_REQUESTS, None, None, "main"),
                  ("timed", stream, None, window, None, "main")]
        if trace:
            tracer.install()
            phases.append(("traced", stream, None, window, tracer.activate,
                           "main"))
            client.on_send = tracer.begin_request
            client.on_response = tracer.end_request
        route_metrics, route_evidence, route_failed = {}, {}, 0
        try:
            marks = serve(spark, index_dir, client, phases)
            n_main = len(client.sent)
            if trace:
                route_metrics, route_evidence, route_failed = route_session(
                    spark, run_dir, seed, workload, pool, client, tracer)
        finally:
            if tracer:
                tracer.uninstall()
        layers = tracer.layer_metrics(
            list(range(n_main)),
            {i: route_of(client.sent[i]) for i in range(n_main, len(client.sent))
             if client.tags[i] == "routes"}) if tracer else {}
        peak_rss_mb = _tree_peak_rss_mb()
        t_check = time.perf_counter()
        docs = read_docs(index_dir)
        oracle, meta = folded_oracle(docs), docs.set_index("doc_id")
        main = list(range(n_main))
        ok = check_responses(client, main, lambda req: (
            plain_expected(oracle, meta, req), plain_got))
        logged = check_query_log(index_dir, [
            (client.sent[i], json.loads(client.responses[i])) for i in main])
        ok = [a and b for a, b in zip(ok, logged)]
        check_s = time.perf_counter() - t_check
        input_bytes = int(docs["text"].str.encode("utf-8").str.len().sum())
    finally:
        _stop_spark(spark)

    lat_ms = [x * 1000.0 for x in client.latency_s]
    by_phase = {name: (a, b, wall) for name, a, b, wall in marks}
    a, b, wall = by_phase["timed"]
    timed = lat_ms[a:b]
    evidence = {
        "workload": workload, "seed": seed, "n_turns": N_TURNS,
        "num_buckets": NUM_BUCKETS,
        "setup": {"session_s": t_session - t_start,
                  "datagen_s": t_gen - t_session,
                  "build_s": t_setup - t_gen},
        "phases": {name: {"requests": b - a, "wall_s": wall}
                   for name, a, b, wall in marks},
        "window_p50_ms": [statistics.median(lat_ms[i:i + WINDOW])
                          for i in range(0, n_main, WINDOW)],
        "latency_ms": lat_ms[:n_main],
        "check_s": check_s,
        "failed_requests": [i for i, good in enumerate(ok) if not good],
        **route_evidence,
    }
    if trace:
        ta, tb, _ = by_phase["traced"]
        untraced_p50 = statistics.median(timed)
        metrics = dict(layers)
        metrics.update(route_metrics)
        metrics["cli.serve_loop.self_ms"] = untraced_p50 - sum(
            v for k, v in layers.items()
            if k.startswith(("query.engine.", "query.log."))
            and k.endswith(".ms"))
        metrics["trace.overhead_ms"] = (statistics.median(lat_ms[ta:tb])
                                        - untraced_p50)
        for p in BUILD_PHASES:
            metrics[f"index.store.build_index.{p}_s"] = build["phases"][p]
        for t in INDEX_TABLES:
            metrics[f"index.bytes.{t}_per_input_byte"] = \
                table_bytes[t] / input_bytes
    else:
        metrics = {
            "setup_s": t_setup - t_start,
            "query_p50_ms": statistics.median(timed),
            "query_p90_ms": _percentile(timed, 90),
            "requests_per_sec": len(timed) / wall,
            "index_bytes_per_input_byte": index_bytes / input_bytes,
            "peak_rss_mb": peak_rss_mb,
        }
    declared = _declared_metrics("per_layer" if trace else "end_to_end")
    failed = ok.count(False) + route_failed
    result = {
        "correct": failed == 0,
        "attempted": len(client.sent),
        "failed": failed,
        "metrics": {name: {"value": metrics[name], "unit": unit}
                    for name, unit in declared},
    }
    return result, evidence


def _declared_metrics(kind: str) -> list[tuple[str, str]]:
    """(name, unit) of the metrics BENCHMARK.json declares for ``kind``."""
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        return [(m["name"], m["unit"]) for m in json.load(f)[kind]]


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import anisearch_model_spark.cli  # noqa: F401
        import bench  # noqa: F401 — its _host_probe stamps the run
    except ImportError as e:
        print(f"perfbench: engine sources not found under {ROOT}: {e}",
              file=sys.stderr)
        return 2

    # a terminated run still stops Spark and removes its files (finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        probe_before = _host_probe()
        result, evidence = run(args.workload, args.seed, args.seconds,
                               bool(args.trace), run_dir)
        evidence["host_probe_s"] = {"before": probe_before,
                                    "after": _host_probe()}
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(WORK)  # left in place while another run uses it
        except OSError:
            pass
    print(json.dumps({"perfbench_evidence": evidence}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
