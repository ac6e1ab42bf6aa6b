"""The benchmark's workloads. Each one drives the engine only through its
public API, runs a fixed, seed-generated sequence of operations, and
checks every output against answers recomputed from the inputs
(``gate.py``).

A workload object is used in this order: ``generate`` (inputs, untimed),
``build`` several times (the starting state, timed as set-up; the last
build is kept), ``run`` (the timed operations), ``finish`` (untimed
checks and clean-up).
"""
from __future__ import annotations

import contextlib
import json
import os
import shutil
import subprocess
import sys
import time
import zlib
from datetime import timedelta

import numpy as np
import pandas as pd

from pitbench import gate, inputs

NOOP = "noop"


def _read_events(spark, path: str):
    from pyspark.sql import functions as F

    return spark.read.parquet(path).withColumn("warc_ts", F.col("warc_ts").cast("timestamp"))


def _events_us(df: pd.DataFrame) -> pd.DataFrame:
    out = df.copy()
    out["warc_ts"] = gate.to_us(out["warc_ts"])
    return out


class Workload:
    """Shared plumbing: the op log, failures by kind and the gate."""

    name = ""

    def __init__(self, spark, work: str, seed: int, tracer=None) -> None:
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.rng = np.random.default_rng([seed, zlib.crc32(self.name.encode())])
        self.samples: dict[str, list[float]] = {}
        self.rows: dict[str, int] = {}
        self.failed: dict[str, int] = {}
        self.errors: list[str] = []
        self.gate_cases: list = []
        self.detail: dict = {}
        self.controls: list[float] = []
        self.control = None  # set by the runner: times the host control

    def host_control(self) -> None:
        """Time the host control twice, outside any timed operation."""
        if self.control is not None:
            self.controls += [self.control(), self.control()]

    def warm(self) -> None:
        """Untimed warm-up after set-up (none by default)."""

    def finish(self) -> None:
        """Untimed checks after the timed pass (none by default)."""

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def span(self, layer: str, name: str):
        return self.tracer.span(layer, name) if self.tracer else contextlib.nullcontext({})

    def timed(self, kind: str, fn, rows: int = 0):
        """Run one operation; its wall time is one sample of ``kind``.
        A raised exception counts as a failed operation of that kind."""
        self.host_control()
        t0 = time.perf_counter()
        try:
            with self.span("op", kind):
                out = fn()
        except Exception as e:  # the run continues; the failure is reported
            self.failed[kind] = self.failed.get(kind, 0) + 1
            self.errors.append(f"{kind}: {type(e).__name__}: {e}"[:500])
            return None
        self.samples.setdefault(kind, []).append(time.perf_counter() - t0)
        self.rows[kind] = self.rows.get(kind, 0) + rows
        return out

    def check(self, errs: list[str]) -> None:
        self.errors += errs

    def p50_ms(self, kind: str, scale: float = 1.0) -> float:
        xs = self.samples.get(kind)
        return 1e3 * scale * float(np.median(xs)) if xs else 0.0

    def rate(self, kind: str, scale: float = 1.0) -> float:
        """Rows per operation of ``kind`` over its median time."""
        xs = self.samples.get(kind)
        return self.rows.get(kind, 0) / len(xs) / (scale * float(np.median(xs))) if xs else 0.0

    @property
    def attempted(self) -> int:
        return sum(len(v) for v in self.samples.values()) + sum(self.failed.values())


# ---------------------------------------------------------------------------


class Offline(Workload):
    """Ingest plus the daily training cycle on one Spark session.

    - ingest: a full ``MaterializeJob.run`` of a page-corpus layout
      through the fused ``extract_features_col`` Arrow kernel into a
      fresh store per operation (BASELINE.json's materialized rows/s);
    - training cycle, repeated CYCLES times on one growing layout:
      append one day with ``write_table(mode="append")`` and merge it
      with ``materialize_delta`` (delta); a small training set that the
      planner serves by broadcast with bucket pruning (small); a large
      one above the broadcast knee that it serves by cogroup (large).

    The cycle count is fixed, so the layout grows the same way in every
    run, and appends and reads share one layout: a write-path change
    that adds files shows up as slower retrievals.
    """

    name = "offline"
    CYCLES = 3
    PAGES_URLS = 600
    KEYS = 15_000
    BASE_ROWS = 40_000
    BASE_DAYS = 60
    DAY_ROWS = 1_000
    SMALL_PROBES = 1_000
    LARGE_PROBES = 105_000  # above plans.retrieval.BROADCAST_PROBE_ROWS
    N_BUCKETS = 16
    TTL_DAYS = 30
    REFS = ["feats:f_int", "feats:f_float"]

    def generate(self) -> None:
        """Inputs, untimed. The ingest corpus is a page layout, so writing
        the generated pages into it is input generation, not set-up."""
        import pyarrow.parquet as pq

        from feast_spark.datagen import generate_pages
        from feast_spark.sources import pages as layout

        pages = generate_pages(
            n_urls=self.PAGES_URLS, seed=int(self.rng.integers(0, 2**31)), dup_rate=0.0
        )
        os.makedirs(self.path("inputs"), exist_ok=True)
        pq.write_table(pages, self.path("inputs", "pages.parquet"))
        self.pages = pages.select(["url", "warc_ts", "text"]).to_pandas()
        self.pages_root = self.path("inputs", "pages")
        layout.write_table(
            _read_events(self.spark, self.path("inputs", "pages.parquet")), self.pages_root,
            n_buckets=self.N_BUCKETS, dt_granularity="month",
        )
        self.keys = inputs.key_names(self.KEYS)
        self.base = inputs.feature_rows(self.rng, self.keys, self.BASE_ROWS, 0, self.BASE_DAYS * inputs.DAY_S)
        inputs.write_parquet(self.base, self.path("inputs", "base.parquet"))
        self.days, self.small, self.large = [], [], []
        for c in range(self.CYCLES):
            day_keys = np.concatenate([self.keys, inputs.key_names(self.DAY_ROWS // 10, f"new{c}-")])
            lo = (self.BASE_DAYS + c) * inputs.DAY_S
            day = inputs.feature_rows(self.rng, day_keys, self.DAY_ROWS, lo, lo + inputs.DAY_S)
            self.days.append(inputs.write_parquet(day, self.path("inputs", f"day{c}.parquet")))
            for kind, n, out in (("small", self.SMALL_PROBES, self.small), ("large", self.LARGE_PROBES, self.large)):
                probes = inputs.probe_rows(self.rng, day_keys, n, lo - 40 * inputs.DAY_S, lo + inputs.DAY_S)
                out.append(inputs.write_parquet(probes, self.path("inputs", f"{kind}{c}.parquet")))
        self.detail["inputs"] = {
            "pages_rows": len(self.pages), "pages_urls": self.PAGES_URLS,
            "feature_rows": len(self.base), "feature_keys": self.KEYS,
            "day_rows": self.DAY_ROWS, "cycles": self.CYCLES,
            "small_probes": self.SMALL_PROBES, "large_probes": self.LARGE_PROBES,
            "buckets": self.N_BUCKETS,
        }

    def build(self, i: int) -> None:
        from feast_spark.materialize import MaterializeJob
        from feast_spark.registry import Entity, FeatureSpec, FeatureStore, FeatureView
        from feast_spark.sources import pages as layout

        root = self.path(f"state{i}")
        self.feat_root = os.path.join(root, "feats")
        self.store_dest = os.path.join(root, "store")
        layout.write_table(
            _read_events(self.spark, self.path("inputs", "base.parquet")), self.feat_root,
            n_buckets=self.N_BUCKETS, dt_granularity="month",
        )
        self.store = FeatureStore(self.spark, root=os.path.join(root, "registry"))
        self.store.apply([
            FeatureView(
                name="pages", entity=Entity("url", "url"), source=self.pages_root,
                features=[FeatureSpec("q_n_chars", "bigint")], ttl=timedelta(days=120),
            ),
            FeatureView(
                name="feats", entity=Entity("url", "url"), source=self.feat_root,
                features=[FeatureSpec("f_int", "bigint"), FeatureSpec("f_float", "double")],
                ttl=timedelta(days=self.TTL_DAYS),
            ),
        ])
        MaterializeJob(self.spark, self.store.get_view("feats"), self.store_dest).run(
            "2023-12-01", "2025-01-01"
        )

    def warm(self) -> None:
        """Boot the Python workers and compile the text-kernel and
        retrieval code paths before timing, so the first cycle is not the
        only cold one. Neither call changes the layout or the store."""
        self._text_transform(self.spark.read.parquet(self.path("inputs", "pages.parquet")).limit(256)) \
            .write.format(NOOP).mode("overwrite").save()
        self._training_set(self.small[0])

    @staticmethod
    def _text_transform(df):
        from feast_spark.operators import text

        return text.extract_features_col(df.select("url", "warc_ts", "html")).select(
            "url", "warc_ts", "q_n_chars", "q_n_tokens"
        )

    def _ingest(self, dest: str) -> int:
        from feast_spark.materialize import MaterializeJob

        job = MaterializeJob(self.spark, self.store.get_view("pages"), dest, transform=self._text_transform)
        return job.run("2023-11-01", "2024-03-01")["rows"]

    def _delta(self, c: int) -> None:
        from feast_spark.sources import pages as layout

        layout.write_table(
            _read_events(self.spark, self.days[c]), self.feat_root,
            n_buckets=self.N_BUCKETS, dt_granularity="month", mode="append",
        )
        self.store.materialize_delta("feats", self.store_dest)

    def _training_set(self, probes_path: str):
        df = self.store.get_historical_features(self.spark.read.parquet(probes_path), self.REFS)
        with self.span("asof", "asof.execute"):
            df.write.format(NOOP).mode("overwrite").save()
        return df

    def run(self) -> None:
        want_ingest = gate.expected_ingest(self.pages)
        ingest_cols = ["url", "warc_ts", "q_n_chars", "q_n_tokens"]
        events = [_events_us(self.base)]
        feats = ["f_int", "f_float"]
        for c in range(self.CYCLES):
            dest = self.path("ingest", str(c))
            rows = len(want_ingest)
            if self.timed("materialize", lambda: self._ingest(dest), rows) is not None:
                store = gate.read_store(dest)
                self.check(gate.check_store(store, want_ingest, ingest_cols, f"ingest[{c}]"))
                if c == 0:
                    self.gate_cases.append(gate.corrupt_store_case("ingest", store, want_ingest, ingest_cols, "q_n_chars"))
            shutil.rmtree(dest, ignore_errors=True)

            self.timed("delta", lambda: self._delta(c), self.DAY_ROWS)
            events.append(_events_us(pd.read_parquet(self.days[c])))
            all_events = pd.concat(events, ignore_index=True)

            for kind, paths in (("small", self.small), ("large", self.large)):
                probes = pd.read_parquet(paths[c])
                df = self.timed(f"train_{kind}", lambda: self._training_set(paths[c]), len(probes))
                if df is None:
                    continue
                # every small set is checked; the large set (the costly
                # collect) in the final cycle, on the fully grown layout
                if self.tracer is None and (kind == "small" or c == self.CYCLES - 1):
                    got = df.toPandas()
                    got["ts"] = gate.to_us(got["ts"])
                    p = probes.assign(ts=gate.to_us(probes["ts"]))
                    what = f"train_{kind}[{c}]"
                    self.check(gate.check_training_set(got, p, all_events, self.TTL_DAYS * inputs.DAY_S, feats, what))
                    if c == self.CYCLES - 1:
                        self.gate_cases.append(gate.corrupt_training_case(
                            what, got, p, all_events, self.TTL_DAYS * inputs.DAY_S, feats))
        self.final_events = pd.concat(events, ignore_index=True)

    def strategies(self) -> dict:
        """The planner's policy choice for each probe-set size (untimed,
        no Spark job: the row estimate comes from parquet footers)."""
        from feast_spark.plans.retrieval import choose_strategy

        return {
            kind: choose_strategy(self.spark.read.parquet(paths[0]), layout_backed=True)
            for kind, paths in (("small", self.small), ("large", self.large))
        }

    def finish(self) -> None:
        self.detail["strategies"] = self.strategies()
        if self.tracer is None:
            store = gate.read_store(self.store_dest)
            want = gate.latest_per_key(self.final_events, "url", "warc_ts")
            cols = ["url", "warc_ts", "f_int", "f_float"]
            self.check(gate.check_store(store, want, cols, "training store"))
            self.gate_cases.append(gate.corrupt_store_case("training store", store, want, cols, "f_int"))

    def metrics(self, scale: float) -> dict:
        """End-to-end metrics with every time multiplied by ``scale``."""
        return {
            "rows_per_s": self.rate("materialize", scale),
            "write_p50_ms": self.p50_ms("delta", scale),
            "read_p50_ms": self.p50_ms("train_small", scale),
            "query_p50_ms": self.p50_ms("train_large", scale),
            "detail": {
                "materialize_rows_per_s": self.rate("materialize", scale),
                "delta_p50_ms": self.p50_ms("delta", scale),
                "train_small_p50_ms": self.p50_ms("train_small", scale),
                "train_rows_per_s": self.rate("train_large", scale),
            },
        }


# ---------------------------------------------------------------------------


class Online(Workload):
    """A FeatureServer over a materialized store plus a persisted vector
    index, driven by ONE closed-loop client in its own process with a
    fixed request sequence: /get-online-features with 10 keys,
    /retrieve-online-documents with top_k=10 and no enrichment, and a
    /push of 10 rows at a fixed share, each push followed by a get of the
    pushed keys.

    One client, because each request already runs several Spark jobs
    across all cores: more clients would measure the Spark scheduler, not
    the server. Concurrency stays unmeasured until the engine's known
    defect is fixed (a concurrent /push swaps out a bucket dir that an
    in-flight, lazily listed read still needs, and that read fails).
    """

    name = "online"
    KEYS = 20_000
    BASE_ROWS = 40_000
    BASE_DAYS = 60
    DOCS = 500
    DIM = 16
    N_BUCKETS = 16
    GET_KEYS = 10
    PUSH_ROWS = 10
    TOP_K = 10
    #: the fixed request pattern; every push is followed by a get of its keys
    PATTERN = ["get", "docs", "push", "get", "docs", "get"]
    ROUNDS = 3
    WARMUP = ["get", "docs", "push"]
    FEATS = ["f_int", "f_float"]

    def generate(self) -> None:
        self.keys = inputs.key_names(self.KEYS)
        self.base = inputs.feature_rows(self.rng, self.keys, self.BASE_ROWS, 0, self.BASE_DAYS * inputs.DAY_S)
        inputs.write_parquet(self.base, self.path("inputs", "base.parquet"))
        self.doc_keys = inputs.key_names(self.DOCS, "doc")
        vecs = inputs.embeddings(self.rng, self.DOCS, self.DIM)
        self.vecs = dict(zip(self.doc_keys, vecs))
        inputs.write_parquet(inputs.vector_frame(self.doc_keys, vecs), self.path("inputs", "vecs.parquet"))
        self.requests = self._requests()
        self.detail["inputs"] = {
            "feature_rows": len(self.base), "feature_keys": self.KEYS, "docs": self.DOCS,
            "dim": self.DIM, "buckets": self.N_BUCKETS, "requests": len(self.requests),
            "warmup_requests": len(self.WARMUP), "client": "closed loop, 1 client process",
        }

    def _requests(self) -> list[dict]:
        out, pushed, n_push = [], None, 0
        for i, kind in enumerate(self.WARMUP + self.PATTERN * self.ROUNDS):
            warm = i < len(self.WARMUP)
            if kind == "get":
                keys = list(self.keys[self.rng.integers(0, self.KEYS, self.GET_KEYS - 1)])
                keys.append(f"https://absent{i}.example/")
                if pushed:
                    keys[: len(pushed)] = pushed
                    pushed = None
                body = {"features": [f"feats:{f}" for f in self.FEATS], "entities": {"url": keys}}
                out.append({"kind": "get", "path": "/get-online-features", "body": body, "warmup": warm})
            elif kind == "docs":
                q = np.round(self.rng.standard_normal(self.DIM), 6).tolist()
                body = {"view": "vecs", "query": q, "top_k": self.TOP_K}
                out.append({"kind": "docs", "path": "/retrieve-online-documents", "body": body, "warmup": warm})
            else:
                n_push += 1
                old = list(self.keys[self.rng.integers(0, self.KEYS, self.PUSH_ROWS - 3)])
                new = [f"https://pushed{n_push}-{j}.example/" for j in range(3)]
                urls = old + new
                ts = (inputs.T0 + pd.Timedelta(days=self.BASE_DAYS + n_push)).isoformat()
                body = {
                    "push_source_name": "feats",
                    "df": {
                        "url": urls, "warc_ts": [ts] * len(urls),
                        "f_int": [int(x) for x in self.rng.integers(0, 10**6, len(urls))],
                        "f_float": [float(x) for x in np.round(self.rng.random(len(urls)) * 100, 6)],
                    },
                }
                out.append({"kind": "push", "path": "/push", "body": body, "warmup": warm})
                pushed = urls[:5] + urls[-2:]
        return out

    def build(self, i: int) -> None:
        from feast_spark.materialize import MaterializeJob
        from feast_spark.registry import Entity, FeatureSpec, FeatureStore, FeatureView
        from feast_spark.sources import pages as layout

        root = self.path(f"state{i}")
        self.feat_root = os.path.join(root, "feats")
        self.store_dest = os.path.join(root, "store")
        layout.write_table(
            _read_events(self.spark, self.path("inputs", "base.parquet")), self.feat_root,
            n_buckets=self.N_BUCKETS, dt_granularity="month",
        )
        self.store = FeatureStore(self.spark, root=os.path.join(root, "registry"))
        self.store.apply([
            FeatureView(
                name="feats", entity=Entity("url", "url"), source=self.feat_root,
                features=[FeatureSpec("f_int", "bigint"), FeatureSpec("f_float", "double")],
            ),
            FeatureView(
                name="vecs", entity=Entity("url", "url"), source=self.path("inputs", "vecs.parquet"),
                features=[FeatureSpec("emb", "array<double>", vector_index=True, vector_dim=self.DIM)],
            ),
        ])
        MaterializeJob(self.spark, self.store.get_view("feats"), self.store_dest).run(
            "2023-12-01", "2025-01-01"
        )
        self.store.build_vector_index("vecs", corpus_count=self.DOCS)

    def run(self) -> None:
        from feast_spark.server import FeatureServer

        self.server = FeatureServer(self.store, {"feats": self.store_dest}).start()
        try:
            results = self._run_traced() if self.tracer else self._run_client()
        finally:
            self.server.stop()
        self._gate(results)

    def _run_client(self) -> list[dict]:
        req_path = self.path("requests.json")
        with open(req_path, "w") as f:
            json.dump(self.requests, f)
        client = os.path.join(os.path.dirname(os.path.abspath(__file__)), "client.py")
        proc = subprocess.Popen(
            [sys.executable, client, str(self.server.port), req_path],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )
        results = []
        try:
            for i, req in enumerate(self.requests):
                if not req["warmup"]:
                    self.host_control()
                proc.stdin.write(f"{i}\n")
                proc.stdin.flush()
                line = proc.stdout.readline()
                if not line:
                    raise RuntimeError(f"client exited before request {i}")
                results.append(json.loads(line))
            proc.stdin.close()
            code = proc.wait(timeout=30)
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
        if code != 0:
            raise RuntimeError(f"client exited with {code}")
        return self._score(results)

    def _run_traced(self) -> list[dict]:
        """Server threads carry no job group, so the traced run replays the
        same requests in process, one at a time, through the handler
        methods. For gets it also times the handler untraced and over
        HTTP; the difference is the HTTP overhead."""
        from pitbench.client import call

        handlers = {
            "get": self.server.get_online_features,
            "docs": self.server.retrieve_online_documents,
            "push": self.server.push,
        }
        def http_s(req) -> float:
            t0 = time.perf_counter()
            call(self.server.port, req["path"], req["body"])
            return time.perf_counter() - t0

        def inproc_s(req) -> float:
            t0 = time.perf_counter()
            handlers[req["kind"]](req["body"])
            return time.perf_counter() - t0

        results, overhead = [], []
        for req in self.requests:
            if req["kind"] == "get" and not req["warmup"]:
                # alternate which path goes first, so warming by the first
                # call does not bias the difference
                self.tracer.enabled = False
                if len(overhead) % 2:
                    h = http_s(req)
                    i = inproc_s(req)
                else:
                    i = inproc_s(req)
                    h = http_s(req)
                overhead.append(h - i)
                self.tracer.discard()
                self.tracer.enabled = True
            if req["warmup"]:
                self.tracer.enabled = False
            t0 = time.perf_counter()
            try:
                reply, status = handlers[req["kind"]](req["body"]), 200
            except Exception as e:
                reply, status = {"error": repr(e)}, 500
            results.append({"kind": req["kind"], "status": status,
                            "latency_s": time.perf_counter() - t0, "reply": reply})
            if req["warmup"]:
                self.tracer.discard()
                self.tracer.enabled = True
        self.http_overhead_ms = 1e3 * float(np.median(overhead)) if overhead else 0.0
        return self._score(results)

    def _score(self, results: list[dict]) -> list[dict]:
        for req, res in zip(self.requests, results):
            if req["warmup"]:
                continue
            if res["status"] == 200:
                self.samples.setdefault(req["kind"], []).append(res["latency_s"])
                if req["kind"] == "get":
                    self.rows["get"] = self.rows.get("get", 0) + len(req["body"]["entities"]["url"])
            else:
                self.failed[req["kind"]] = self.failed.get(req["kind"], 0) + 1
                self.errors.append(f"{req['kind']}: status {res['status']} {res['reply']}"[:500])
        return results

    def _gate(self, results: list[dict]) -> None:
        latest = gate.latest_per_key(_events_us(self.base), "url", "warc_ts")
        state = gate.OnlineState(latest, self.FEATS)
        picked = set()
        for i, (req, res) in enumerate(zip(self.requests, results)):
            if res["status"] != 200:
                continue
            body, reply = req["body"], res["reply"]
            if req["kind"] == "push":
                state.push(body["df"])
            elif req["kind"] == "get":
                keys = body["entities"]["url"]
                self.check(gate.check_get(reply, keys, self.FEATS, state, f"get[{i}]"))
                if "get" not in picked:
                    picked.add("get")
                    self.gate_cases.append(gate.corrupt_get_case(f"get[{i}]", reply, keys, self.FEATS, state.snapshot()))
            else:
                rows = reply.get("results", [])
                self.check(gate.check_docs(rows, body["query"], self.vecs, self.TOP_K, f"docs[{i}]"))
                if "docs" not in picked and rows:
                    picked.add("docs")
                    self.gate_cases.append(gate.corrupt_docs_case(f"docs[{i}]", rows, body["query"], self.vecs, self.TOP_K))

    def metrics(self, scale: float) -> dict:
        """End-to-end metrics with every time multiplied by ``scale``."""
        return {
            "rows_per_s": self.rate("get", scale),
            "write_p50_ms": self.p50_ms("push", scale),
            "read_p50_ms": self.p50_ms("get", scale),
            "query_p50_ms": self.p50_ms("docs", scale),
            "detail": {
                "get_p50_ms": self.p50_ms("get", scale),
                "docs_p50_ms": self.p50_ms("docs", scale),
                "push_p50_ms": self.p50_ms("push", scale),
            },
        }


WORKLOADS = {w.name: w for w in (Offline, Online)}
