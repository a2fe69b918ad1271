"""The benchmark workloads. Each is a closed loop with one client (this
driver process): the next operation starts when the previous one has
returned.

* ``stream_merge`` — link a base corpus into a fresh checkpoint with the
  first ``streaming.pipeline.apply_transcript_batch`` call (the founding
  ``plans.pipeline.run_pipeline``), then merge one closed-conversation
  micro-batch.
* ``corpus_dedup`` — the dedup and ANN queries of the ``queries.QUERIES``
  registry over a generated document corpus, each output collected to
  the driver; one pass over the ANN queries, then one over the dedup
  queries, alternating.
"""

from __future__ import annotations

import random
import shutil
import statistics
from dataclasses import dataclass, field
from pathlib import Path

from .harness import Ops, clock, describe

#: the CLI's default ``north`` kernel preset
NORTH_KERNELS = (
    "levenshtein", "jaccard", "jaro_winkler", "emb_cosine", "tfidf", "softtfidf",
)
THRESHOLD = 0.425
F1_FLOOR = 0.99

DEDUP_QUERIES = (
    "dedup_exact", "dedup_minhash_lsh", "dedup_simhash", "dedup_ngram_jaccard",
    "dedup_embedding_lsh",
)
ANN_QUERIES = ("ann_brute_topk", "ann_ivf_topk")


@dataclass
class Ctx:
    spark: object
    run_dir: Path
    cache: Path
    seed: int
    seconds: float
    tracer: object
    ops: Ops
    #: a traced run: the loop runs instrumented, then layer metrics
    trace: bool = False
    inject_failure: bool = False
    #: fixture size factor (the smoke test runs at a quarter size)
    scale: float = 1.0
    #: op kind → list of (seconds, items)
    timings: dict[str, list[tuple[float, int]]] = field(default_factory=dict)
    e2e: dict[str, tuple[float, str]] = field(default_factory=dict)
    layers: dict[str, float] = field(default_factory=dict)
    report: list[str] = field(default_factory=list)
    #: texts and index pairs for the in-process kernel timings
    kernel_inputs: tuple[list[str], list[tuple[int, int]]] | None = None

    def timed(self, kind: str, items: int, fn, *a, **kw):
        t = clock()
        ok, out = self.ops.run(kind, fn, *a, **kw)
        if ok:
            self.timings.setdefault(kind, []).append((clock() - t, items))
        return ok, out

    def samples(self, kind: str) -> list[float]:
        return [s for s, _ in self.timings.get(kind, [])]


def _force(df) -> None:
    """Materialize every column through the noop sink (a count would let
    Catalyst prune the columns a UDF computes)."""
    df.write.format("noop").mode("overwrite").save()


def warm_python_workers(spark, slots: int) -> None:
    """One UDF task per slot: forks the Python workers and imports the
    package in each, the first-touch cost every session pays once."""
    from pyspark.sql import functions as F

    from poi_name_matching_spark.functions.spark_udfs import normalize_tokens

    _force(
        spark.range(slots).repartition(slots)
        .select(normalize_tokens(F.lit("warm up the python workers")))
    )


# ---------------------------------------------------------------------
# stream_merge
# ---------------------------------------------------------------------

#: base corpus linked by the founding call
STREAM_BASE = 600
#: conversations in the one micro-batch a run merges (one merge is what
#: the run budget allows): the micro-batch size of the sizing sample the
#: stream workload was specified with
STREAM_BATCH_CONVS = 400


def _pipeline_cfg(ckpt: Path):
    from poi_name_matching_spark.operators.blocking import BlockingConfig
    from poi_name_matching_spark.operators.scoring import ScoringConfig
    from poi_name_matching_spark.plans.pipeline import PipelineConfig

    return PipelineConfig(
        checkpoint_dir=str(ckpt),
        blocking=BlockingConfig(max_block_size=200),
        scoring=ScoringConfig(kernels=NORTH_KERNELS, score_kernel="tfidf",
                              threshold=THRESHOLD),
    )


class StreamMerge:
    name = "stream_merge"
    #: samples each op kind needs before the measured loop may stop
    kinds = {"link": 1, "merge": 1}

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.ckpt = ctx.run_dir / "checkpoint"
        self.merged: list[str] = []

    def prepare(self) -> None:
        from .fixtures import conv_fixture

        c = self.ctx
        self.fx = conv_fixture(c.cache, c.seed, int(STREAM_BASE * c.scale),
                               int(STREAM_BATCH_CONVS * c.scale))
        #: (input, op kind, conversations) of the ops still to run
        self.todo = [(self.fx.base, "link", self.fx.n_base),
                     (self.fx.batch, "merge", self.fx.batch_convs)]
        texts = _signature_texts(self.fx.base)
        rng = random.Random(c.seed)
        pairs = [tuple(rng.sample(range(len(texts)), 2)) for _ in range(400)]
        c.kernel_inputs = (texts, pairs)
        shutil.rmtree(self.ckpt, ignore_errors=True)

    def step(self) -> bool:
        """One operation: the first links the base corpus into a fresh
        checkpoint (the founding apply_transcript_batch call, which runs
        run_pipeline), the second merges the micro-batch. False when both
        have run."""
        from poi_name_matching_spark.streaming.pipeline import apply_transcript_batch

        c = self.ctx
        if not self.todo:
            return False
        path, kind, n = self.todo.pop(0)
        batch = c.spark.read.parquet(path)
        if c.inject_failure and kind == "merge":
            # a batch missing the turn text: the merge's Spark plan fails
            batch = batch.drop("text")
        with c.tracer.span(f"op.{kind}", "workload"):
            ok, _ = c.timed(kind, n, apply_transcript_batch, batch, _pipeline_cfg(self.ckpt))
        if ok:
            self.merged.append(path)
        elif kind == "link":
            raise RuntimeError("founding link failed:\n" + c.ops.failures[-1])
        return True

    def finish(self) -> None:
        """Untimed correctness gates and end-of-run metrics."""
        from poi_name_matching_spark.sources.checkpoint import StageCheckpoint
        from poi_name_matching_spark.streaming.pipeline import apply_transcript_batch

        c, spark = self.ctx, self.ctx.spark
        ck = StageCheckpoint(self.ckpt)

        # gate: re-applying an already merged batch appends nothing. It
        # costs about half a merge, all fixed Spark work, so it runs in
        # traced runs only, to keep the untraced runs within the budget
        if self.fx.batch in self.merged and c.trace:
            before = {s: (ck.read_manifest(s) or {}).get("rows") for s in
                      ("signatures", "blocks", "candidate_pairs", "scores")}
            t = clock()
            ok, _ = c.ops.run("reapply", apply_transcript_batch,
                              spark.read.parquet(self.fx.batch), _pipeline_cfg(self.ckpt))
            after = {s: (ck.read_manifest(s) or {}).get("rows") for s in before}
            c.ops.gate("reapply_appends_nothing", ok and before == after,
                       f"rows before {before} after {after}")
            c.report.append(f"reapply gate (untimed): {clock() - t:.2f} s")

        # coverage and pairwise F1, computed here in pandas from the
        # stored components and the planted truth
        import pandas as pd

        merged = set().union(*(
            pd.read_parquet(p, columns=["conv_id"])["conv_id"] for p in self.merged
        ))
        comps = ck.load(spark, "components")
        cdf = comps.select("conv_id", "component_id").toPandas()
        n_rows, n_ids = len(cdf), cdf["conv_id"].nunique()
        stray = set(cdf["conv_id"]) ^ merged
        c.ops.gate(
            "components_cover_each_conv_once",
            n_rows == n_ids == len(merged) and not stray,
            f"rows={n_rows} distinct={n_ids} merged={len(merged)} stray={len(stray)}",
        )
        truth = pd.read_parquet(self.fx.truth)
        truth = truth[truth["conv_id"].isin(merged)]
        m = pairwise_f1(cdf, truth)
        c.ops.gate("cluster_f1_floor", m["f1"] >= F1_FLOOR, f"f1={m['f1']:.4f} < {F1_FLOOR}")
        c.report.append(
            f"cluster_f1 = {m['f1']:.4f} (tp={m['tp']}, fp={m['fp']}, fn={m['fn']}; "
            f"threshold {THRESHOLD})"
        )

        merges = c.samples("merge")
        links = c.timings.get("link", [])
        conv_merge = c.timings.get("merge", [])
        merged_convs = sum(n for _, n in conv_merge)
        merge_s = sum(s for s, _ in conv_merge)
        ckpt_b = sum(f.stat().st_size for f in self.ckpt.rglob("*") if f.is_file())
        in_b = self.fx.input_bytes(self.merged)
        c.e2e["op_p50_s"] = (statistics.median(merges) if merges else float("nan"), "s")
        c.e2e["op2_p50_s"] = (statistics.median([s for s, _ in links]) if links else float("nan"), "s")
        c.e2e["quality_f1"] = (m["f1"], "ratio")
        c.report += [
            f"merge_p50_s: {describe(merges)} (one micro-batch through apply_transcript_batch)",
            f"link_s: {describe([s for s, _ in links])} (founding run_pipeline of the base corpus)",
            f"link_convs_per_s = {sum(n for _, n in links)} convs / "
            f"{sum(s for s, _ in links):.3f} s",
            f"merge_convs_per_s = {merged_convs} convs / {merge_s:.3f} s",
            f"ckpt_mb_per_input_mb = {ckpt_b / 1e6:.3f} MB checkpoint / "
            f"{in_b / 1e6:.3f} MB merged input parquet = {ckpt_b / max(in_b, 1):.3f}",
        ]
        if c.trace:
            self._layer_metrics(ck, comps, spark.createDataFrame(truth))

    def _layer_metrics(self, ck, comps, truth) -> None:
        from pyspark.sql import functions as F

        from .trace import children, effective_spans, layer_busy, name_busy, self_time

        c, spark = self.ctx, self.ctx.spark
        spans = c.tracer.spans
        # inside a merge, layers are timed by the merge's own phase clock
        eff = effective_spans(spans)
        merges = [s for s in eff if s["name"] == "merge"]
        in_link = [s for s in eff if not s["name"].startswith("merge")]
        L = c.layers
        sig_rows = ck.read_manifest("signatures")["rows"]
        block_rows = ck.read_manifest("blocks")["rows"]
        pair_rows = ck.read_manifest("candidate_pairs")["rows"]
        commits = [s for s in spans if s["name"] in ("checkpoint.write", "checkpoint.append")]

        def rows_out(stage):
            return sum(s.get("rows_out", 0) for s in commits if s.get("stage") == stage)

        for layer in ("signatures", "blocking", "candidate_pairs", "scoring", "clustering"):
            L[f"{layer}.busy_s"] = layer_busy(eff, layer)
            c.report.append(
                f"{layer}.busy_s = {layer_busy(in_link, layer):.3f} s link"
                f" + {L[f'{layer}.busy_s'] - layer_busy(in_link, layer):.3f} s merge phases"
            )
        L["signatures.rows_out"] = rows_out("signatures")
        L["blocking.keys_per_conv"] = block_rows / sig_rows
        L["blocking.max_block_size"] = (
            ck.load(spark, "blocks").groupBy("block_key").count().agg(F.max("count")).first()[0]
        )
        L["candidate_pairs.pairs_per_conv"] = pair_rows / sig_rows
        pairs = ck.load(spark, "candidate_pairs")
        t = truth.select("conv_id", "entity_id")
        true_found = (
            pairs.join(t.withColumnRenamed("conv_id", "left_id").withColumnRenamed("entity_id", "le"), "left_id")
            .join(t.withColumnRenamed("conv_id", "right_id").withColumnRenamed("entity_id", "re"), "right_id")
            .filter(F.col("le") == F.col("re")).count()
        )
        true_all = int(
            t.groupBy("entity_id").count()
            .agg(F.coalesce(F.sum(F.col("count") * (F.col("count") - 1) / 2), F.lit(0))).first()[0]
        )
        L["candidate_pairs.pair_completeness"] = true_found / true_all if true_all else 1.0
        scores = ck.load(spark, "scores")
        n_scores = scores.count()
        n_match = scores.filter(F.col("score") >= THRESHOLD).count()
        L["candidate_pairs.match_share"] = n_match / n_scores if n_scores else 0.0
        scored = rows_out("scores")
        L["scoring.pairs_per_s"] = scored / L["scoring.busy_s"] if L["scoring.busy_s"] else 0.0
        L["clustering.n_components"] = comps.select("component_id").distinct().count()
        for n in ("fingerprint", "load", "write", "append", "expire"):
            L[f"checkpoint.{n}_s"] = name_busy(spans, f"checkpoint.{n}")
        L["checkpoint.data_files"] = sum(
            1 for p in self.ckpt.glob("*/data.parquet/part-*") if p.is_file()
        )
        L["checkpoint.mb_written"] = sum(s.get("bytes_written", 0) for s in commits) / 1e6
        kids = children(eff)
        L["merge.self_s"] = sum(self_time(m, kids) for m in merges)
        merge_s = sum(m["end"] - m["start"] for m in merges)
        traced_merged = sum(n for _, n in c.timings.get("merge", []))
        new_pairs = sum(s.get("rows_out", 0) for s in commits
                        if s["name"] == "checkpoint.append" and s.get("stage") == "candidate_pairs")
        L["merge.new_pairs_per_conv"] = new_pairs / traced_merged if traced_merged else 0.0
        link_s = sum(s for s, _ in c.timings.get("link", []))
        score_link = layer_busy(in_link, "scoring")
        score_merge = L["scoring.busy_s"] - score_link
        c.report += [
            f"blocking.keys_per_conv = {block_rows} block rows / {sig_rows} signatures",
            f"candidate_pairs.pairs_per_conv = {pair_rows} pairs / {sig_rows} signatures",
            f"candidate_pairs.pair_completeness = {true_found} true pairs among candidates"
            f" / {true_all} true pairs",
            f"candidate_pairs.match_share = {n_match} pairs >= {THRESHOLD} / {n_scores} scored",
            f"scoring.pairs_per_s = {scored} pairs scored / {L['scoring.busy_s']:.3f} s scoring busy",
            f"scoring share of the link = {score_link:.3f} s scoring / {link_s:.3f} s link"
            f" = {score_link / link_s if link_s else 0:.3f}",
            f"scoring share of the merges = {score_merge:.3f} s scoring / {merge_s:.3f} s"
            f" merge spans = {score_merge / merge_s if merge_s else 0:.3f}",
            f"merge.self_s = {L['merge.self_s']:.3f} s outside every merge phase"
            f" / {merge_s:.3f} s merge spans",
            f"merge.new_pairs_per_conv = {new_pairs} appended pairs / "
            f"{traced_merged} merged convs",
            "checkpoint.write_s and checkpoint.append_s time whole commits, including"
            " the lazy plan of the stage committed: they overlap the stage layers' busy_s",
        ]


def pairwise_f1(comps, truth) -> dict:
    """Pairwise F1 of predicted components against planted entities
    (pandas frames ``conv_id, component_id`` and ``conv_id, entity_id``):
    same-cluster pair counts via sum of C(n, 2) per group."""
    j = comps.merge(truth, on="conv_id")

    def pairs(cols) -> int:
        n = j.groupby(cols).size()
        return int((n * (n - 1) // 2).sum())

    tp = pairs(["component_id", "entity_id"])
    fp = pairs(["component_id"]) - tp
    fn = pairs(["entity_id"]) - tp
    f1 = 2 * tp / (2 * tp + fp + fn) if tp else 0.0
    return {"tp": tp, "fp": fp, "fn": fn, "f1": f1}


def _signature_texts(path: str) -> list[str]:
    """Per-conversation signature text (turns joined in turn order), read
    with pandas — the kernel timings run without Spark."""
    import pandas as pd

    df = pd.read_parquet(path, columns=["conv_id", "turn_idx", "text"])
    df = df.sort_values(["conv_id", "turn_idx"])
    return df.groupby("conv_id")["text"].agg(lambda t: " ".join(x or "" for x in t)).tolist()


# ---------------------------------------------------------------------
# corpus_dedup
# ---------------------------------------------------------------------

DEDUP_DOCS = 400
DEDUP_VECS = 300


def _rowset(rows, cols) -> list[tuple]:
    import math

    def norm(v):
        if isinstance(v, float):
            return "nan" if math.isnan(v) else repr(v)
        return v

    return sorted(tuple(norm(r[c]) for c in sorted(cols)) for r in rows)


class CorpusDedup:
    name = "corpus_dedup"
    #: one of each per run. The ANN pass runs first, on a cold engine:
    #: warm ANN passes shrink pass by pass for the first five or so
    #: (JIT warm-up), so a median of the few a run can afford lands on
    #: that slope and spread 0.29 across ten seeds, while the cold pass
    #: costs about as much as three warm ones and spreads far less
    kinds = {"ann_pass": 1, "dedup_pass": 1}

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.n_ops = 0
        self.rows_out: dict[str, int] = {}
        #: query → (columns, rows) of each timed execution
        self.outputs: dict[str, list[tuple[list[str], list]]] = {}

    def prepare(self) -> None:
        from .fixtures import doc_fixture

        c = self.ctx
        self.fx = doc_fixture(c.cache, c.seed, int(DEDUP_DOCS * c.scale),
                              int(DEDUP_VECS * c.scale))
        import pandas as pd

        texts = pd.read_parquet(Path(self.fx.sf_dir) / "documents.parquet")["text"].tolist()
        rng = random.Random(c.seed)
        pairs = sorted(self.fx.truth_pairs) + [
            tuple(rng.sample(range(len(texts)), 2)) for _ in range(200)
        ]
        c.kernel_inputs = (texts, pairs)

    def check(self) -> None:
        """Untimed: every collected output must equal its DuckDB oracle
        as a row multiset."""
        import duckdb

        from poi_name_matching_spark.queries import ORACLE

        c = self.ctx
        con = duckdb.connect()
        try:
            for t in ("documents", "embeddings"):
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM '{self.fx.sf_dir}/{t}.parquet'"
                )
            for q in DEDUP_QUERIES + ANN_QUERIES:
                res = con.execute(ORACLE[q])
                ocols = [d[0] for d in res.description]
                expect = _rowset([dict(zip(ocols, r)) for r in res.fetchall()], ocols)
                for i, (cols, rows) in enumerate(self.outputs.get(q, [])):
                    same = sorted(cols) == sorted(ocols) and _rowset(rows, cols) == expect
                    c.ops.gate(f"{q}_equals_oracle" + (f"#{i}" if i else ""), same,
                               f"spark {len(rows)} rows vs oracle {len(expect)} rows")
        finally:
            con.close()

    def _pass(self, queries, kind: str) -> bool:
        from poi_name_matching_spark.queries import QUERIES

        c = self.ctx
        root = self.fx.sf_dir
        if c.inject_failure and self.n_ops == 1:
            root = str(c.run_dir / "no-such-corpus")
        layer = "dedup" if kind == "dedup_pass" else "ann"

        def one_pass():
            # collecting forces every column (a count would let Catalyst
            # prune the columns a UDF computes) and keeps the rows for
            # the oracle check
            for q in queries:
                with c.tracer.span(f"{layer}.{q}", layer, query=q):
                    sdf = QUERIES[q](c.spark, root)
                    out = (sdf.columns, sdf.collect())
                self.outputs.setdefault(q, []).append(out)
                self.rows_out[q] = len(out[1])

        with c.tracer.span(f"op.{kind}", "workload"):
            c.timed(kind, self.fx.n_docs if layer == "dedup" else self.fx.n_vecs, one_pass)
        return True

    def step(self) -> bool:
        self.n_ops += 1
        if self.n_ops % 2 == 1:
            return self._pass(ANN_QUERIES, "ann_pass")
        return self._pass(DEDUP_QUERIES, "dedup_pass")

    def finish(self) -> None:
        c = self.ctx
        self.check()
        truth = self.fx.truth_pairs
        mh = self.outputs.get("dedup_minhash_lsh")
        found = {(r["left_id"], r["right_id"]) for r in mh[0][1]} if mh else set()
        tp = len(found & truth)
        fp, fn = len(found - truth), len(truth - found)
        f1 = 2 * tp / (2 * tp + fp + fn) if tp else 0.0
        dd = c.timings.get("dedup_pass", [])
        dd_s = [s for s, _ in dd]
        ann_s = c.samples("ann_pass")
        c.e2e["op_p50_s"] = (statistics.median(dd_s) if dd_s else float("nan"), "s")
        c.e2e["op2_p50_s"] = (statistics.median(ann_s) if ann_s else float("nan"), "s")
        docs, secs = sum(n for _, n in dd), sum(dd_s)
        c.e2e["quality_f1"] = (f1, "ratio")
        c.report += [
            f"dedup_pass_s: {describe(dd_s)} ({len(DEDUP_QUERIES)} queries, rows collected)",
            f"ann_pass_s: {describe(ann_s)} ({len(ANN_QUERIES)} queries, rows collected)",
            f"docs_per_s = {docs} docs / {secs:.3f} s of dedup passes",
            f"near_dup_f1 = {f1:.4f} (dedup_minhash_lsh pairs vs planted: tp={tp}, fp={fp}, fn={fn})",
        ]
        if c.trace:
            from .trace import name_busy

            spans = c.tracer.spans
            for q in DEDUP_QUERIES:
                c.layers[f"dedup.{q}.busy_s"] = name_busy(spans, f"dedup.{q}")
                c.layers[f"dedup.{q}.rows_out"] = self.rows_out.get(q, 0)
            for q in ANN_QUERIES:
                c.layers[f"ann.{q}.busy_s"] = name_busy(spans, f"ann.{q}")


WORKLOADS = {"stream_merge": StreamMerge, "corpus_dedup": CorpusDedup}
