"""The workloads: what each sets up, runs per unit of work, and checks.
A unit is one round of the request mix (serve) or one pipeline cycle
(batch); ``run.py`` repeats units until the measuring time is used up
and times every operation in them."""

from __future__ import annotations

import math
import os
import random
import time
import traceback

import checks
import gen

FIND_MAX_HOPS = 3
DEGREE_PAIRS, DEGREE_MAX_HOPS = 16, 8
PAGERANK_ITERATIONS = 5
AUC_FLOOR = 0.76
RECOMMEND_K = 10
# One serve round, in this order every round. The mix is an assumption,
# not taken from a trace (see README.md): one request of each type, two
# exact lookups, and find_connection once on a pair joined within
# FIND_MAX_HOPS and once on a pair the reference finds unreachable
# within it.
ROUND = ("resolve_exact", "resolve_fuzzy", "find_connection", "find_unreachable",
         "recommend", "predict", "resolve_exact")


class Op:
    """One timed operation and what its check needs."""

    def __init__(self, kind: str):
        self.kind = kind
        self.seconds = 0.0
        self.cpu_s = 0.0
        self.who: tuple = ()  # the persons a request names
        self.ok = True
        self.data: dict = {}


class Workload:
    name = ""

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = None

    def session(self):
        from social_link_prediction_spark import session

        with self.ctx.tracer.span("bench", "session"):
            self.spark = session.get_spark("perfbench", extra_conf=self.ctx.spark_conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.ctx.tracer.bind(self.spark)

    def stop(self) -> None:
        if self.spark is not None:
            self.ctx.tracer.harvest(self.spark)
            self.spark.stop()
            self.spark = None

    def timed(self, kind: str, fn, *args) -> Op:
        """Run one operation; an exception marks it failed, not the run."""
        op = Op(kind)
        tr = self.ctx.tracer
        tr.request = self.ctx.next_request()
        c, t = self.ctx.cpu(), time.perf_counter()
        try:
            with tr.span("bench", kind):
                op.data = fn(*args)
        except Exception:
            traceback.print_exc()
            op.ok = False
        op.seconds = time.perf_counter() - t
        op.cpu_s = self.ctx.cpu() - c
        tr.request = None
        return op


# --- graph workloads ----------------------------------------------------
class _GraphWorkload(Workload):
    def prepare(self) -> None:
        w = self.ctx.work
        self.truth = gen.generate(self.ctx.seed, os.path.join(w, "raw"))
        self.oracle = checks.GraphOracle(self.truth)
        self.rng = random.Random(self.ctx.seed * 7 + len(self.name))

    def load(self, warehouse: str):
        """The warehouse read of ``__main__._load_graph``."""
        from pyspark.sql import functions as F

        nodes = self.spark.read.parquet(os.path.join(warehouse, "nodes"))
        raw = self.spark.read.parquet(os.path.join(warehouse, "edges"))
        edges = raw.select(
            F.col("person").alias("src"),
            F.col("object").alias("dst"),
            F.col("relationship_label").alias("rel"),
        )
        return nodes, edges


def _rows(df) -> list[dict]:
    return [r.asDict() for r in df.collect()]


class Serve(_GraphWorkload):
    """A closed loop with one client over one AIService: each request
    waits for the previous reply. Names follow a Zipf popularity."""

    name = "serve"

    def prepare(self) -> None:
        super().prepare()
        self.warehouse = os.path.join(self.ctx.work, "warehouse")
        gen.write_warehouse(self.truth["tables"], self.warehouse)
        persons = list(self.truth["persons"])
        self.rng.shuffle(persons)
        self.popular = persons
        self.zipf = gen.zipf_weights(len(persons), gen.ZIPF_S)
        self.typos = sorted(self.truth["typos"].items())
        self.homonym_ids = {p for pair in self.truth["homonyms"] for p in pair}

    def setup(self) -> None:
        from social_link_prediction_spark.application import AIService

        self.session()
        with self.ctx.tracer.span("bench", "load"):
            nodes, edges = self.load(self.warehouse)
        self.svc = AIService(nodes, edges)
        with self.ctx.tracer.span("bench", "warm-up"):
            self.svc.analysis.resolve(self.truth["names"][self.popular[0]]).collect()

    def _pick(self, unique: bool = False) -> str:
        """A Zipf-popular person; ``unique`` skips homonyms, for
        requests whose check needs to know which id a name resolves to."""
        while True:
            pid = self.rng.choices(self.popular, self.zipf)[0]
            if not unique or pid not in self.homonym_ids:
                return pid

    def _query_name(self, pid: str) -> str:
        """The stored spelling, or its ASCII folding for a third of
        requests (both resolve exactly)."""
        name = self.truth["names"][pid]
        return gen.fold(name) if self.rng.random() < 1 / 3 else name

    def _pair(self, unique: bool = False, joined: bool | None = None) -> tuple[str, str]:
        """Two popular people with different names. ``joined`` True or
        False: the reference finds a path of at most FIND_MAX_HOPS
        finite-weight edges between them, or finds none."""
        names = self.truth["names"]
        while True:
            a, b = self._pick(unique), self._pick(unique)
            if gen.fold(names[a]) == gen.fold(names[b]):
                continue
            if joined is None or joined != math.isinf(
                    self.oracle.hop_bounded_dist(a, b, FIND_MAX_HOPS)):
                return a, b

    def unit(self) -> list[Op]:
        names = self.truth["names"]
        ops = []
        for kind in ROUND:
            if kind == "resolve_exact":
                pid = self._pick()
                q = self._query_name(pid)
                op = self.timed(kind, lambda q=q: {"rows": _rows(self.svc.analysis.resolve(q))})
                op.data.update(query=q, want=pid)
                op.who = (pid,)
            elif kind == "resolve_fuzzy":
                q, pid = self.rng.choice(self.typos)
                op = self.timed(kind, lambda q=q: {"rows": _rows(self.svc.analysis.resolve(q))})
                op.data.update(query=q, want=pid)
                op.who = (pid,)
            elif kind.startswith("find_"):
                a, b = self._pair(unique=True, joined=kind == "find_connection")
                op = self.timed(kind, self._find, names[a], names[b])
                op.who = (a, b)
            elif kind == "recommend":
                pid = self._pick(unique=True)
                op = self.timed(kind, lambda n=names[pid]: {"rows": _rows(
                    self.svc.recommend(n, k=RECOMMEND_K))})
                op.data.update(src=pid)
                op.who = (pid,)
            else:
                a, b = self._pair(unique=True)
                op = self.timed(kind, lambda na=names[a], nb=names[b]: {"rows": _rows(
                    self.svc.predict_link_score(na, nb))})
                op.data.update(a=a, b=b)
                op.who = (a, b)
            ops.append(op)
        return ops

    def _find(self, a: str, b: str) -> dict:
        res = self.svc.analysis.find_connection(a, b, max_hops=FIND_MAX_HOPS)
        steps = res.pop("steps", None)
        return {"res": res, "steps": _rows(steps) if steps is not None else None,
                "a": a, "b": b}

    def check(self, ops: list[Op]) -> list[str]:
        g = self.oracle
        errs = []
        for op in ops:
            if not op.ok:
                continue
            d = op.data
            if op.kind.startswith("resolve"):
                e = checks.check_resolve(d["rows"], d["query"], d["want"], op.kind == "resolve_exact")
            elif op.kind.startswith("find_"):
                e = checks.check_connection(g, d["res"], d["steps"], d["a"], d["b"], FIND_MAX_HOPS)
            elif op.kind == "recommend":
                e = checks.check_recommend(g, d["rows"], d["src"], RECOMMEND_K)
            else:
                e = checks.check_predict(g, d["rows"], d["a"], d["b"])
            op.ok = not e
            errs += e
        return errs

    def metrics(self, ops: list[Op], elapsed: float) -> dict:
        lat = [o.seconds for o in ops]
        q, tail = _tail(lat)
        seen, repeats = set(), 0  # requests naming someone named before
        for o in ops:
            repeats += bool(seen & set(o.who))
            seen.update(o.who)
        m = {
            "requests_per_s": (len(ops) / elapsed, "req/s"),
            "latency_p50_s": (_median(lat), "s"),
            "latency_tail_s": (tail, "s"),
            "latency_tail_percentile": (q, "percentile"),
            "latency_samples": (len(lat), "count"),
            "repeat_share": (repeats / len(ops), "ratio"),
        }
        for kind in dict.fromkeys(ROUND):
            xs = [o for o in ops if o.kind == kind]
            m[f"{kind}_p50_s"] = (_median([o.seconds for o in xs]) if xs else None, "s")
            m[f"{kind}_cpu_s"] = (_median([o.cpu_s for o in xs]) if xs else None, "s")
        return m

    def ratios(self, ops: list[Op]) -> dict:
        fc = [o for o in ops if o.kind.startswith("find_") and o.ok]
        return {"graph.paths.reached_ratio":
                sum(o.data["res"]["success"] for o in fc) / max(len(fc), 1)}


class Batch(_GraphWorkload):
    """The nightly pipeline, one batch caller: the ETL of ``python -m
    social_link_prediction_spark --etl`` minus the fixture fetcher
    (read_sparql_json -> run_transformer -> write_parquet), then batch
    jobs over the warehouse it wrote: compute_degrees over seeded human
    pairs, PageRank, and link split -> negative sampling -> training ->
    evaluation, as ``python -m social_link_prediction_spark --train``
    does it (on the training pairs)."""

    name = "batch"

    def prepare(self) -> None:
        super().prepare()
        self.files = _raw_files(os.path.join(self.ctx.work, "raw"))
        self.out = os.path.join(self.ctx.work, "out")

    def setup(self) -> None:
        self.session()
        with self.ctx.tracer.span("bench", "warm-up"):
            self.spark.read.option("multiLine", "true").json(self.files).schema

    def _etl(self) -> dict:
        from pyspark.sql import functions as F

        from social_link_prediction_spark.pipelines import transformer as tr
        from social_link_prediction_spark.sources import json_flatten as jf

        raw = jf.read_sparql_json(self.spark, self.files).withColumn(
            "relationshipLabel.value",
            F.regexp_extract(F.col("_source_file"), r"raw_data_(\w+)\.json", 1),
        )
        edges, nodes = tr.run_transformer(raw, person_multi_cols=["birth_year"])
        jf.write_parquet(edges, os.path.join(self.out, "edges"), partition_by=["relationship_label"])
        jf.write_parquet(nodes, os.path.join(self.out, "nodes"))
        return {"bindings": self.truth["bindings"]}

    def _pairs(self) -> list[tuple[str, str]]:
        persons = self.truth["persons"]
        islanders = [p for fam in self.truth["islands"] for p in fam]
        pairs = set()
        while len(pairs) < DEGREE_PAIRS:
            s, t = self.rng.sample(persons, 2)
            if len(pairs) < 2:
                t = self.rng.choice(islanders)
            if s != t:
                pairs.add((s, t))
        return sorted(pairs)

    def _degrees(self, pairs):
        """Loads the warehouse the ETL wrote, as ``_load_graph`` does."""
        from social_link_prediction_spark.application import AnalysisService

        self.nodes, self.edges = self.load(self.out)
        svc = AnalysisService(self.nodes, self.edges)
        df = self.spark.createDataFrame(pairs, ["src", "dst"])
        return {"rows": _rows(svc.compute_degrees(df, max_hops=DEGREE_MAX_HOPS)),
                "pairs": pairs}

    def _pagerank(self):
        from social_link_prediction_spark.graph import pagerank as pr

        return {"rows": _rows(pr.pagerank(self.edges, iterations=PAGERANK_ITERATIONS))}

    def _train_eval(self):
        from social_link_prediction_spark.ml import linksplit as ls
        from social_link_prediction_spark.ml import predict as mlp

        train, _val, _test = ls.link_split(self.edges, val_frac=0.1, test_frac=0.2)
        pos = train.select("src", "dst", "rel")
        labeled = ls.negative_sample(pos, self.nodes.select("id"), ratio=1.0)
        model, _ = mlp.train_link_model(labeled, train)
        self.labeled, self.pos = labeled, pos
        return mlp.evaluate_link_model(model, labeled, train)

    def unit(self) -> list[Op]:
        ops = [self.timed("etl", self._etl)]
        if ops[0].ok:
            ops += [
                self.timed("compute_degrees", self._degrees, self._pairs()),
                self.timed("pagerank", self._pagerank),
                self.timed("train_eval", self._train_eval),
            ]
        return ops

    def check(self, ops: list[Op]) -> list[str]:
        errs = []
        aucs = set()
        for op in ops:
            if not op.ok:
                continue
            if op.kind == "etl":
                e = checks.check_ingest(self.out, self.truth)
            elif op.kind == "compute_degrees":
                e = checks.check_degrees(self.oracle, op.data["rows"], op.data["pairs"],
                                         DEGREE_MAX_HOPS)
            elif op.kind == "pagerank":
                e = checks.check_pagerank(self.oracle, op.data["rows"], PAGERANK_ITERATIONS)
            else:
                aucs.add(round(op.data["areaUnderROC"], 9))
                e = checks.check_auc(op.data["areaUnderROC"], AUC_FLOOR)
            op.ok = not e
            errs += e
        if len(aucs) > 1:
            errs.append(f"train_eval: areaUnderROC differs between cycles: {sorted(aucs)}")
        return errs

    def metrics(self, ops: list[Op], elapsed: float) -> dict:
        def med(kind, attr="seconds"):
            xs = [getattr(o, attr) for o in ops if o.kind == kind and o.ok]
            return _median(xs) if xs else None

        etl = [o for o in ops if o.kind == "etl" and o.ok]
        deg = [o for o in ops if o.kind == "compute_degrees" and o.ok]
        auc = [o.data["areaUnderROC"] for o in ops if o.kind == "train_eval" and o.ok]
        parquet = sum(os.path.getsize(os.path.join(d, f))
                      for d, _, fs in os.walk(self.out) for f in fs if f.endswith(".parquet"))
        return {
            "bindings_per_s": (sum(o.data["bindings"] for o in etl) / sum(o.seconds for o in etl)
                               if etl else None, "rows/s"),
            "stored_bytes_ratio": (parquet / self.truth["raw_bytes"], "ratio"),
            "degrees_pairs_per_s": (DEGREE_PAIRS * len(deg) / sum(o.seconds for o in deg)
                                    if deg else None, "pairs/s"),
            "pagerank_s": (med("pagerank"), "s"),
            "train_eval_s": (med("train_eval"), "s"),
            "auc": (round(auc[0], 6) if auc else None, "ratio"),
        } | {f"{k}_cpu_s": (med(k, "cpu_s"), "s")
             for k in ("etl", "compute_degrees", "pagerank", "train_eval")}

    def ratios(self, ops: list[Op]) -> dict:
        """Counted after the timed window (extra Spark jobs)."""
        from pyspark.sql import functions as F

        deg = [r for o in ops if o.kind == "compute_degrees" and o.ok for r in o.data["rows"]]
        out = {"pipelines.transformer.keep_ratio": self.truth["edges"] / self.truth["bindings"],
               "graph.paths.reached_ratio": sum(r["dist"] is not None for r in deg) / max(len(deg), 1)}
        if hasattr(self, "pos"):
            sampled = self.pos.select("src", "rel").dropDuplicates().count()
            kept = self.labeled.filter(F.col("label") == 0).count()
            out["ml.linksplit.negative_keep_ratio"] = kept / max(sampled, 1)
        return out


def _raw_files(d: str) -> list[str]:
    return sorted(os.path.join(d, f) for f in os.listdir(d) if f.startswith("raw_data_"))


def _median(xs: list[float]) -> float:
    xs = sorted(xs)
    n = len(xs)
    return xs[n // 2] if n % 2 else (xs[n // 2 - 1] + xs[n // 2]) / 2


def _tail(xs: list[float]) -> tuple[float | None, float | None]:
    """The highest percentile with at least ten samples beyond it:
    q = 1 - 10/n, defined from n >= 20 on."""
    n = len(xs)
    if n < 20:
        return None, None
    q = 1.0 - 10.0 / n
    xs = sorted(xs)
    return q * 100.0, xs[min(n - 1, math.ceil(q * n) - 1)]


WORKLOADS = {w.name: w for w in (Serve, Batch)}
