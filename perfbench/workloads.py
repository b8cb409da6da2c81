"""The benchmark workloads.

Each workload is built from the run's seed, loads its inputs into Spark,
and runs its unit of work untraced (``run``) or as a traced composition of
the package's layers (``run_traced``).  Each unit's output is checked
against invariants any correct result meets, and reduced to a readable
``check`` that must agree across units, between traced and untraced runs,
and with ``expected.json`` for the seeds recorded there.

- ``er_code``: ``pipeline.resolve_files`` over ``corpus.generate_files_corpus``;
  the paper's flow and the only input with ground-truth entity labels.
- ``curate_docs``: ``curate.curate_corpus`` over a seeded 10% subset of the
  documents table plus a noisy near-copy of each document, probing the dedup
  index of a previous snapshot; runs
  ``candidate_pairs`` and ``connected_components`` from a second caller
  with MinHash-only keys, and bypasses ``scoring`` and ``normalize``.
"""

from __future__ import annotations

import hashlib
import json
import os
import time

import pandas as pd
from pyspark.sql import functions as F

from healthcare_entity_resolution_spark.config import DEFAULT_CONFIG as CFG
from healthcare_entity_resolution_spark.corpus import generate_files_corpus
from healthcare_entity_resolution_spark.operators import blocking as B
from healthcare_entity_resolution_spark.operators import classify as C
from healthcare_entity_resolution_spark.operators import components as G
from healthcare_entity_resolution_spark.operators import curate as CU
from healthcare_entity_resolution_spark.operators import decontaminate as DC
from healthcare_entity_resolution_spark.operators import dedup as D
from healthcare_entity_resolution_spark.operators import dedup_index as DIX
from healthcare_entity_resolution_spark.operators import evaluate as EV
from healthcare_entity_resolution_spark.operators import normalize as N
from healthcare_entity_resolution_spark.operators import redact as R
from healthcare_entity_resolution_spark.operators import scoring as S
from healthcare_entity_resolution_spark.operators import textstats as TS
from healthcare_entity_resolution_spark.pipeline import resolve_files

import inputs
from tracing import dir_stats

DOC_COLS = ["doc_id", "text", "lang", "source", "n_chars"]
WARM_SEED_OFFSET = 1_000_003


def _digest(obj) -> str:
    return hashlib.sha256(json.dumps(obj, sort_keys=True).encode()).hexdigest()[:16]


def _dedup_f1(groups_in: pd.Series, kept: set, seen: set) -> tuple[int, int, int]:
    """(correct removals, removals, redundant docs) for one dedup decision
    set, agnostic to which member of a group is kept.  ``groups_in`` maps
    doc id -> true group; a group already in ``seen`` is redundant whole."""
    tp = removed = redundant = 0
    for g, ids in groups_in.groupby(groups_in).groups.items():
        n = len(ids)
        k = sum(1 for i in ids if i in kept)
        if g in seen:
            redundant += n
            removed += n - k
            tp += n - k
        else:
            redundant += n - 1
            removed += n - k
            tp += n - max(k, 1)
    return tp, removed, redundant


def _f1(tp: int, removed: int, redundant: int) -> float:
    p = tp / removed if removed else 1.0
    r = tp / redundant if redundant else 1.0
    return 2 * p * r / (p + r) if p + r else 0.0


class Unit:
    """Outcome of one unit of work: latency samples; ``check``, the
    readable summary of the output that must reproduce; ``problems``, the
    invariants the output broke; extras."""

    def __init__(self, samples, check, problems=(), extra=None):
        self.samples = samples
        self.check = check
        self.problems = list(problems)
        self.extra = extra or {}


def _same_partition(ids, assign: dict, links) -> bool:
    """True if ``assign`` (id -> cluster) groups ``ids`` exactly as the
    connected components of the ``links`` (id pairs) do."""
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in links:
        if a not in parent or b not in parent:
            return False
        parent[find(a)] = find(b)
    by_root, by_cluster = {}, {}
    for i in ids:
        r, c = find(i), assign[i]
        if by_root.setdefault(r, c) != c or by_cluster.setdefault(c, r) != r:
            return False
    return True


# ---------------------------------------------------------------------------
# er_code
# ---------------------------------------------------------------------------


class ErCode:
    name = "er_code"
    # every seed tried has MinHash blocks above max_block_size (200) at
    # this size, so salting drops pairs and F1 shows it; 2,000 entities
    # cost 5 s more per run, which the run budget cannot spare
    N_ENTITIES = 1600
    WARM, WARM_PASSES = {"n_entities": 100}, 1
    # a unit below this F1 is broken, not merely worse
    QUALITY_FLOOR = 0.9

    def __init__(self, spark, seed: int, work_dir: str, n_entities: int = N_ENTITIES):
        self.spark = spark
        self.pdf, self.labels = generate_files_corpus(n_entities=n_entities, seed=seed)
        self.file_ids = list(self.pdf["file_id"])
        # files with equal content are one entity by construction
        self.exact_links = [
            (ids[0], i) for ids in self.pdf.groupby("content_sha")["file_id"]
            .agg(list) for i in ids[1:]]

    def load(self) -> None:
        self.raw = self.spark.createDataFrame(
            self.pdf[["repo", "path", "commit", "lang", "content"]]).persist()
        self.raw.count()
        self.truth = self.spark.createDataFrame(
            self.labels.rename(columns={"file_id": "id"}))

    def prepare(self) -> None:
        pass

    def _check(self, wall, matches, assignments, n_entities, extra=None) -> Unit:
        """Every input file is assigned once, and the clusters are exactly
        the connected components of the confirmed matches plus the
        exact-content links."""
        rows = sorted((r["id"], r["component_id"]) for r in assignments.collect())
        links = [(r["id_1"], r["id_2"]) for r in matches.select("id_1", "id_2").collect()]
        assign = dict(rows)
        problems = []
        if len(rows) != len(assign) or set(assign) != set(self.file_ids):
            problems.append("assignments do not cover each input file once")
        elif not _same_partition(self.file_ids, assign, links + self.exact_links):
            problems.append("clusters are not the components of the matches")
        if n_entities != len(set(assign.values())):
            problems.append(f"{n_entities} entities for {len(set(assign.values()))} clusters")
        check = {"matches": len(links), "entities": n_entities, "assignments": _digest(rows)}
        return Unit([wall], check, problems, extra)

    def quality(self, assignments) -> float:
        return EV.pairwise_cluster_f1(assignments, self.truth)["f1"]

    def run(self, with_quality: bool = False) -> Unit:
        t0 = time.perf_counter()
        out = resolve_files(self.spark, self.raw)
        n_entities = out["entities"].count()
        wall = time.perf_counter() - t0
        unit = self._check(wall, out["matches"], out["assignments"], n_entities)
        if with_quality:
            unit.extra["quality"] = self.quality(out["assignments"])
        self.spark.catalog.clearCache()
        self.raw.persist()
        return unit

    def run_traced(self, tr) -> Unit:
        """``resolve_files`` composed layer by layer, each result made
        concrete at its boundary."""
        t0 = time.perf_counter()
        with tr.span("normalize"):
            files = N.normalize_files(self.raw).persist()
            tr.counts["normalize_rows"] = files.count()
        with tr.span("pipeline.exact_dedup"):
            reps = files.groupBy("content_sha").agg(F.min("file_id").alias("file_id"))
            rep_files = files.join(reps, ["content_sha", "file_id"]).persist()
            rep_files.count()
        with tr.span("blocking.keys"):
            keys = B.code_file_block_keys(rep_files, CFG).persist()
            keys.count()
        pairs = B.candidate_pairs(keys, CFG)
        with tr.span("scoring"):
            scored = S.score_code_pairs(rep_files, pairs, CFG).withColumn(
                "auth", F.when(F.col("sha_equal"), F.lit(1.0))
                .otherwise(F.lit(None).cast("double")))
            classified = C.classify(scored, CFG, authoritative_col="auth").persist()
            tr.counts["scored_pairs"] = classified.count()
        matches = C.confirmed_matches(classified, CFG)
        rep_assign = G.connected_components(
            matches, vertices=rep_files.select(F.col("file_id").alias("id")), cfg=CFG)
        with tr.span("pipeline.entities"):
            assignments = (
                files.select("file_id", "content_sha")
                .join(reps.withColumnRenamed("file_id", "rep_id"), "content_sha")
                .join(rep_assign.withColumnRenamed("id", "rep_id"), "rep_id")
                .select(F.col("file_id").alias("id"), "component_id")
                .persist()
            )
            assignments.count()
            n_entities = (
                assignments.join(files, assignments["id"] == files["file_id"])
                .groupBy("component_id")
                .agg(F.count("*").alias("member_count"),
                     F.min("file_id").alias("min_file_id"),
                     F.collect_set("lang").alias("langs"),
                     F.collect_set("repo").alias("repos"),
                     F.countDistinct("content_sha").alias("distinct_contents"))
                .withColumn("entity_id",
                            F.concat(F.lit("ENT_"), F.substring("min_file_id", 1, 16)))
                .count()
            )
        wall = time.perf_counter() - t0
        unit = self._check(wall, matches, assignments, n_entities, {"t0": t0})
        self.spark.catalog.clearCache()
        self.raw.persist()
        return unit


# ---------------------------------------------------------------------------
# curate_docs
# ---------------------------------------------------------------------------


class CurateDocs:
    name = "curate_docs"
    FRAC = 0.10
    WARM, WARM_PASSES = {"frac": 0.02}, 1
    QUALITY_FLOOR = 0.8
    # decontamination settings of the repo's corpus bench: 20-char shingles
    # only match verbatim runs of the word-soup vocabulary
    CONTAM_K, CONTAM_T = 20, 0.5
    NEAR_T = 0.85
    # the previous snapshot's index is probed with every subset document's
    # bands; at 256 shards (the default) that is a read of ~1,000 tiny files
    N_SHARDS = 16

    def __init__(self, spark, seed: int, work_dir: str, frac: float = FRAC):
        self.spark = spark
        self.work_dir = work_dir
        self.docs, self.snapshot, self.evals = inputs.curate_input(
            inputs.documents_table(), seed, frac)
        self._n = 0

    def _build_index(self) -> str:
        self._n += 1
        path = os.path.join(self.work_dir, f"snapshot_{id(self)}_{self._n}")
        DIX.build_dedup_index(self.snapshot_df, path, n_shards=self.N_SHARDS)
        return path

    def load(self) -> None:
        frames = [self.spark.createDataFrame(p[DOC_COLS]).persist()
                  for p in (self.docs, self.evals, self.snapshot)]
        for f in frames:
            f.count()
        self.df, self.eval_df, self.snapshot_df = frames

    def prepare(self) -> None:
        self.index = self._build_index()

    def quality(self, kept_ids: set) -> float:
        """Dedup F1 of the curated survivors against the generator's groups;
        a group the previous snapshot holds is redundant whole, and groups
        the eval subset contaminates are left out."""
        contaminated = set(self.evals["true_group"])
        d = self.docs[~self.docs["true_group"].isin(contaminated)]
        return _f1(*_dedup_f1(d.set_index("doc_id")["true_group"], kept_ids,
                              set(self.snapshot["true_group"])))

    STAGES = ["input", "exact_dedup", "index_dedup", "near_dedup",
              "quality_gate", "pii", "decontaminated"]

    def _finish(self, wall, counts, curated, extra) -> Unit:
        """Every stage ran and none added documents; the survivors are input
        documents with distinct original texts, one per survivor counted,
        and none is a verbatim eval document."""
        kept = [r["doc_id"] for r in curated.select("doc_id").collect()]
        text = self.docs.set_index("doc_id")["text"]
        problems = []
        if list(counts) != self.STAGES:
            problems.append(f"stages {list(counts)}")
        elif any(a < b for a, b in zip(counts.values(), list(counts.values())[1:])):
            problems.append(f"a stage added documents: {counts}")
        if len(kept) != len(set(kept)) or len(kept) != counts.get("decontaminated"):
            problems.append(f"{len(kept)} survivors for {counts.get('decontaminated')} counted")
        if not set(kept) <= set(text.index):
            problems.append("a survivor is not an input document")
        else:
            texts = set(text[kept])
            if len(texts) < len(set(kept)):
                problems.append("two survivors share a text")
            if texts & set(self.evals["text"]):
                problems.append("a verbatim eval document survived")
        unit = Unit([wall], counts, problems, extra)
        unit.extra["kept"] = set(kept)
        self.spark.catalog.clearCache()
        for f in (self.df, self.eval_df, self.snapshot_df):
            f.persist()
        return unit

    def run(self, with_quality: bool = False) -> Unit:
        t0 = time.perf_counter()
        idx = DC.benchmark_shingle_index(self.eval_df, "doc_id", "text", k=self.CONTAM_K)
        res = CU.curate_corpus(
            self.df, bench_index=idx, contamination_k=self.CONTAM_K,
            contamination_threshold=self.CONTAM_T, credit_cards=True,
            near_dup_threshold=self.NEAR_T, dedup_index_path=self.index,
        )
        wall = time.perf_counter() - t0
        counts = {k: v for k, v in res["counts"].items() if k != "output"}
        unit = self._finish(wall, counts, res["curated"], {})
        if with_quality:
            unit.extra["quality"] = self.quality(unit.extra["kept"])
        return unit

    def run_traced(self, tr) -> Unit:
        """``curate_corpus`` composed stage by stage, each stage
        checkpointed and counted as ``curate_corpus`` does.  The snapshot
        index is rebuilt first, outside the composition's timing."""
        idc, txt = "doc_id", "text"
        counts = {}

        def stage(name, df):
            df = df.checkpoint(eager=True)
            counts[name] = df.count()
            return df

        with tr.span("dedup_index.build"):
            index = self._build_index()
        files, mb = dir_stats(index)
        t0 = time.perf_counter()
        with tr.span("dedup.exact"):
            counts["input"] = self.df.count()
            cur = stage("exact_dedup", D.distinct_by_content(self.df, idc, txt))
        with tr.span("dedup_index.query"):
            hits = DIX.query_dedup_index(cur, index, idc, txt, CFG,
                                         jaccard_threshold=self.NEAR_T)
            hit_ids = hits.select(F.col("query_id").alias("__idx_drop")).distinct()
            cur = stage("index_dedup", cur.join(
                hit_ids, cur[idc].cast("string") == hit_ids["__idx_drop"], "left_anti"))
        with tr.span("dedup.near"):
            pairs = D.minhash_near_duplicates(cur, idc, txt, CFG,
                                              jaccard_threshold=self.NEAR_T)
            tr.counts["near_pairs"] += pairs.count()
            groups = D.near_duplicate_groups(pairs, CFG)
            drop = groups.where(F.col("id") != F.col("group_id")).select(
                F.col("id").alias("__drop_id"))
            cur = stage("near_dedup", cur.join(
                drop, cur[idc].cast("string") == drop["__drop_id"], "left_anti"))
        with tr.span("textstats"):
            feats = TS.quality_features(cur, idc, txt).select(idc, "quality_score")
            lang = TS.identify_language(cur, idc, txt).select(idc, "lang_pred")
            gated = (cur.join(feats, idc).join(lang, idc)
                     .where(F.col("quality_score") >= F.lit(0.5)))
            cur = stage("quality_gate", gated.drop("quality_score", "lang_pred"))
        with tr.span("redact"):
            red = R.redact_credit_cards(R.redact_pii(cur, txt), txt)
            red = red.where(F.col("pii_total") + F.col("pii_credit_card") <= F.lit(10))
            cur = stage("pii", red.drop(*[c for c in red.columns if c.startswith("pii_")]))
        with tr.span("decontaminate"):
            idx = DC.benchmark_shingle_index(self.eval_df, idc, txt, k=self.CONTAM_K)
            cur = stage("decontaminated", DC.decontaminate(
                cur, idx, idc, txt, k=self.CONTAM_K, threshold=self.CONTAM_T))
        wall = time.perf_counter() - t0
        return self._finish(wall, counts, cur,
                            {"t0": t0, "files": files, "mb": mb})


WORKLOADS = {w.name: w for w in (ErCode, CurateDocs)}
