"""The three benchmark workloads: one pass each, and its correctness check.

A workload object is built once per process. ``reset`` restores the
on-disk state a pass starts from (outside timing), ``run`` is the
timed pass, ``check`` verifies its outputs (outside timing) and
returns a list of problems, empty when the pass was correct.

Passes call only public functions of
``mape_calculation_and_anonymization_spark``; each step is wrapped in
a tracer span named after the package module it calls into (the
layer). With the null tracer the spans cost nothing.
"""

from __future__ import annotations

import hashlib
import os
import shutil
from datetime import datetime

import numpy as np
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

from gen import seeded_pseudonym, tree_bytes

# Relative tolerance of the NumPy WAPE recomputation: Spark sums in
# another order, so the last bits may differ.
WAPE_RTOL = 1e-9
SETTLE_ABS = {
    "forecast": "settlement_abs",
    "forecast_gross": "usage_final_gross_abs",
    "forecast_net": "usage_final_net_abs",
}


class WapeReport:
    """The reference's daily flow: per-meter Schema-A CSV and Schema-B
    parquet → hourly → daily WAPE at portfolio and zonal grain → a
    four-sheet workbook."""

    name = "wape_report"

    def __init__(self, spark, input_dir: str, manifest: dict, run_dir: str):
        self.spark = spark
        self.input_dir = input_dir
        self.expected = manifest["expected"]
        self.out_dir = os.path.join(run_dir, "output")
        self.xlsx = os.path.join(self.out_dir, "client_performance.xlsx")

    def reset(self) -> None:
        shutil.rmtree(self.out_dir, ignore_errors=True)
        os.makedirs(self.out_dir)

    def run(self, tr) -> dict:
        from mape_calculation_and_anonymization_spark import MapeCalculation
        from mape_calculation_and_anonymization_spark.sources import (
            read_csv,
            read_parquet,
            write_excel_workbook,
        )

        with tr.span("sources.readers"):
            ops = read_csv(self.spark, os.path.join(self.input_dir, "client_ops.csv"))
            jp = read_parquet(
                self.spark, os.path.join(self.input_dir, "client_jp.parquet"), lowercase=True
            )
        sheets = {}
        with tr.span("operators.mape"):
            for tag, raw in (("ops", ops), ("jp", jp)):
                calc = MapeCalculation(raw)
                sheets[f"daily_portfolio_mape_{tag}"] = calc.daily_mape_aggregation(
                    calc.hourly_aggregation()
                )
                sheets[f"daily_zonal_mape_{tag}"] = calc.daily_mape_aggregation(
                    calc.hourly_aggregation(zone=True), zone=True
                )
        # Plan every sheet before the sink runs it, so Catalyst time is
        # separable from execution; the sink reuses these plans.
        with tr.span("operators.mape", "plan"):
            for df in sheets.values():
                df._jdf.queryExecution().executedPlan()
        with tr.span("sources.sinks"):
            write_excel_workbook(self.xlsx, **sheets)
        return {}

    def bytes_out(self) -> int:
        return tree_bytes(self.out_dir)

    def counters(self, result: dict) -> dict:
        # the workbook is written on the driver, outside any stage
        return {"sources.sinks.bytes_written_mb": tree_bytes(self.xlsx) / 1e6}

    def check(self, result: dict) -> list[str]:
        from mape_calculation_and_anonymization_spark.sources.readers import (
            read_xlsx_sheet_pandas,
        )

        problems = []
        dates = self.expected["dates"]
        for sheet, want in self.expected["sheets"].items():
            zones = self.expected["zones"] if "zonal" in sheet else [None]
            fams = sorted({f for row in want.values() for f in row})
            got = {}
            for rec in read_xlsx_sheet_pandas(self.xlsx, sheet).to_dict("records"):
                day = dates.index(str(rec["proxy_date"])[:10])
                for z in zones:
                    sfx = f"_{z}" if z else ""
                    if _missing(rec.get(f"forecast_mape{sfx}")):
                        continue  # a zone-day the drop rules removed
                    key = f"{day}:{z}" if z else str(day)
                    got[key] = {}
                    for fam in fams:
                        vals = []
                        for prefix in (fam, fam.replace("forecast", "backcast")):
                            mape = rec[f"{prefix}_mape{sfx}"]
                            ratio = rec[f"{prefix}_abs_error{sfx}"] / rec[f"{SETTLE_ABS[fam]}{sfx}"]
                            if mape != ratio:
                                problems.append(f"{sheet} {key} {prefix}: mape != abs_error/abs")
                            vals.append(mape)
                        got[key][fam] = vals
            if set(got) != set(want):
                diff = sorted(set(got) ^ set(want))[:5]
                problems.append(f"{sheet}: rows {diff} differ from the NumPy recomputation")
                continue
            for key, row in want.items():
                for fam, vals in row.items():
                    if not np.allclose(got[key][fam], vals, rtol=WAPE_RTOL, atol=0.0):
                        problems.append(f"{sheet} {key} {fam}: {got[key][fam]} != {vals}")
        return problems


def _missing(v) -> bool:
    return v is None or (isinstance(v, float) and np.isnan(v))


class AnonymizeFolder:
    """Keyed anonymization of the newest dated folder, with a key table
    pre-seeded with half the uids and restored before every pass."""

    name = "anonymize_folder"
    now = datetime(2024, 7, 1, 6, 0, 0)

    def __init__(self, spark, input_dir: str, manifest: dict, run_dir: str):
        self.spark = spark
        self.input_root = os.path.join(input_dir, "input")
        self.newest = os.path.join(self.input_root, "2024-06-30")
        self.key_seed = os.path.join(input_dir, "key_seed", "key_uid.snappy.parquet")
        self.expected = manifest["expected"]
        self.out_dir = os.path.join(run_dir, "output")
        self.key_dir = os.path.join(run_dir, "key")
        self._truth = None

    def reset(self) -> None:
        for d in (self.out_dir, self.key_dir):
            shutil.rmtree(d, ignore_errors=True)
        os.makedirs(self.key_dir)
        shutil.copyfile(self.key_seed, os.path.join(self.key_dir, "key_uid.snappy.parquet"))

    def run(self, tr) -> dict:
        from mape_calculation_and_anonymization_spark.operators.anonymize import (
            anonymize_files,
        )

        with tr.span("operators.anonymize"):
            outputs = anonymize_files(
                self.spark,
                self.input_root,
                self.out_dir,
                client=self.expected["client"],
                key_dir=self.key_dir,
                now=self.now,
            )
        return {"outputs": outputs}

    def bytes_out(self) -> int:
        return tree_bytes(self.out_dir) + tree_bytes(self.key_dir)

    def counters(self, result: dict) -> dict:
        table = os.path.join(self.key_dir, "key_uid.snappy.parquet")
        rows = pq.ParquetDataset(table).read(columns=["uid"]).num_rows
        return {"operators.keys.new_uids": rows - self.expected["seeded_uids"]}

    def _load_truth(self):
        """Input rows per file and the expected pseudonym of every uid."""
        if self._truth is None:
            seed = pq.read_table(self.key_seed).to_pydict()
            key = dict(zip(seed["uid"], seed["uid_"]))
            files = {}
            for f in self.expected["files"]:
                path = os.path.join(self.newest, f["name"])
                if path.endswith(".csv"):
                    t = pacsv.read_csv(
                        path,
                        convert_options=pacsv.ConvertOptions(
                            column_types={"uid": "string", "Amount": "float64"}
                        ),
                    )
                else:
                    t = pq.read_table(path)
                d = t.select(["ChargeID", "Amount", "uid"]).to_pydict()
                order = np.argsort(d["ChargeID"])
                files[f["name"]] = (
                    np.asarray(d["ChargeID"])[order],
                    np.asarray(d["Amount"], dtype=np.float64)[order],
                    np.asarray(d["uid"], dtype=object)[order],
                )
                for u in d["uid"]:
                    if u not in key:
                        key[u] = hashlib.blake2b(u.encode(), digest_size=5).hexdigest()
            self._truth = files, key, {u: seeded_pseudonym(u) for u in seed["uid"]}
        return self._truth

    def check(self, result: dict) -> list[str]:
        from mape_calculation_and_anonymization_spark.sources import anonymized_output_name

        files, key, seeded = self._load_truth()
        problems = []
        client = self.expected["client"]
        for name, (ids, amount, uids) in files.items():
            out = os.path.join(self.out_dir, anonymized_output_name(name, client))
            t = pq.read_table(out).to_pydict()
            if len(t["chargeid"]) != len(ids):
                problems.append(f"{name}: {len(t['chargeid'])} rows, want {len(ids)}")
                continue
            order = np.argsort(t["chargeid"])
            if not np.array_equal(np.asarray(t["chargeid"])[order], ids):
                problems.append(f"{name}: charge ids differ")
                continue
            if not np.array_equal(np.asarray(t["amount"])[order], amount * 1.0125):
                problems.append(f"{name}: amount is not input × 1.0125")
            got = np.asarray(t["uid"], dtype=object)[order]
            want = np.array([key[u] for u in uids], dtype=object)
            if not np.array_equal(got, want):
                problems.append(f"{name}: {int((got != want).sum())} wrong pseudonyms")
            if not all(str(c).startswith("ANON_CLIENT") for c in t["customercode"]):
                problems.append(f"{name}: a client label survived")
        table = pq.read_table(os.path.join(self.key_dir, "key_uid.snappy.parquet")).to_pydict()
        pairs = list(zip(table["uid"], table["uid_"]))
        if len(pairs) != len(set(pairs)) or dict(pairs) != key:
            problems.append("key table is not the union of seeded and new uids")
        if any(dict(pairs).get(u) != p for u, p in seeded.items()):
            problems.append("a pre-seeded pseudonym changed")
        return problems


class CorpusCuration:
    """Quality scoring and gating, MinHash near-dup (batch, then an
    incremental drop), SemDeDup (batch, then incremental), and a
    per-document fate table."""

    name = "corpus_curation"

    def __init__(self, spark, input_dir: str, manifest: dict, run_dir: str):
        self.spark = spark
        self.input_dir = input_dir
        self.expected = manifest["expected"]
        self.out = os.path.join(run_dir, "output", "fates.parquet")

    def reset(self) -> None:
        shutil.rmtree(os.path.dirname(self.out), ignore_errors=True)

    def run(self, tr) -> dict:
        from pyspark.sql import functions as F

        from mape_calculation_and_anonymization_spark.operators import dedup, similarity, text
        from mape_calculation_and_anonymization_spark.sources import (
            read_parquet,
            write_parquet_snappy,
        )

        spark = self.spark
        with tr.span("sources.readers"):
            docs_s, docs_d, vecs_s, vecs_d, centroids = (
                read_parquet(spark, os.path.join(self.input_dir, f"{name}.parquet"))
                for name in ("docs_standing", "docs_drop", "vecs_standing", "vecs_drop", "centroids")
            )

        with tr.span("operators.text"):
            docs = docs_s.withColumn("is_new", F.lit(False)).unionByName(
                docs_d.withColumn("is_new", F.lit(True))
            )
            scored = docs.select(
                "doc_id",
                "is_new",
                "text",
                text.quality_score("text").alias("quality"),
                text.language_id("text").alias("lang"),
            ).persist()
            funnel = [r.asDict() for r in text.quality_gate_funnel(scored).collect()]

        with tr.span("operators.dedup"):
            standing_sigs = dedup.minhash_signatures(
                docs_s.select(
                    F.col("doc_id").alias("_id"), dedup.char_shingles("text").alias("sh")
                ),
                "_id",
                F.col("sh"),
                num_hashes=32,
                seed=42,
            )
            pairs = [
                (r.id_a, r.id_b)
                for r in dedup.minhash_near_duplicates(docs_s).select("id_a", "id_b").collect()
            ]
            incremental = [
                (r.id_a, r.id_b, r.pair_type)
                for r in dedup.minhash_incremental_pairs(docs_d, docs_s, standing_sigs)
                .select("id_a", "id_b", "pair_type")
                .collect()
            ]

        with tr.span("operators.similarity"):
            verdict = similarity.semantic_dedup(vecs_s, centroids).persist()
            try:
                sem_standing = {r.vec_id: r.kept for r in verdict.select("vec_id", "kept").collect()}
                standing = vecs_s.join(verdict.select("vec_id", "kept"), "vec_id")
                sem_new = {
                    r.vec_id: r.kept
                    for r in similarity.semantic_dedup_incremental(standing, vecs_d, centroids)
                    .select("vec_id", "kept")
                    .collect()
                }
            finally:
                verdict.unpersist()

        with tr.span("sources.sinks"):
            # drop ids follow the standing ones, so the later doc of a
            # pair (id_b) is the one dropped in every kind of pair
            near_dup = {b for _a, b in pairs} | {b for _a, b, _kind in incremental}
            sem_dup = {i for i, kept in {**sem_standing, **sem_new}.items() if not kept}
            flags = spark.createDataFrame(
                [(i, i in near_dup, i in sem_dup) for i in sorted(near_dup | sem_dup)],
                "doc_id long, near_dup boolean, semantic_dup boolean",
            )
            fates = (
                scored.select("doc_id", "is_new", "lang", "quality")
                .join(flags, "doc_id", "left")
                .withColumn(
                    "fate",
                    F.when(F.col("lang") == "und", "low_quality")
                    .when(F.col("near_dup"), "near_dup")
                    .when(F.col("semantic_dup"), "semantic_dup")
                    .otherwise("kept"),
                )
                .drop("near_dup", "semantic_dup")
            )
            write_parquet_snappy(fates, self.out)
        scored.unpersist()
        return {
            "funnel": funnel,
            "pairs": pairs,
            "incremental": incremental,
            "sem_standing": sem_standing,
            "sem_new": sem_new,
        }

    def bytes_out(self) -> int:
        return tree_bytes(self.out)

    def counters(self, result: dict) -> dict:
        return {}

    def check(self, result: dict) -> list[str]:
        exp = self.expected
        problems = []
        n_docs = exp["standing"] + exp["drop"]

        def pair_set(rows):
            return {tuple(sorted(p[:2])) for p in rows}

        if pair_set(result["pairs"]) != pair_set(exp["minhash_pairs"]):
            problems.append(
                f"minhash pairs: {len(result['pairs'])}, want {len(exp['minhash_pairs'])}"
            )
        for kind, key in (("new_standing", "incremental_new_standing"), ("new_new", "incremental_new_new")):
            got = pair_set(p for p in result["incremental"] if p[2] == kind)
            if got != pair_set(exp[key]):
                problems.append(f"incremental {kind}: {len(got)} pairs, want {len(exp[key])}")
        sem_dropped = set()
        for name, verdict, fams, always in (
            ("semantic_dedup", result["sem_standing"], exp["semantic_families"], []),
            ("semantic_dedup_incremental", result["sem_new"], exp["semantic_new_pairs"],
             exp["semantic_new_dups"]),
        ):
            want_n = exp["standing"] if name == "semantic_dedup" else exp["drop"]
            dropped = {i for i, k in verdict.items() if not k}
            planted = {i for f in fams for i in f} | set(always)
            if (
                len(verdict) != want_n
                or not dropped <= planted
                or not set(always) <= dropped
                or any(sum(verdict[i] for i in f) != 1 for f in fams)
            ):
                problems.append(f"{name}: dropped {len(dropped)} not as planted")
            sem_dropped |= dropped
        remaining = n_docs
        for stage in result["funnel"]:
            rejected = exp["gate_rejects"].get(stage["gate"], 0)
            if (stage["n_in"], stage["n_pass"]) != (remaining, remaining - rejected):
                problems.append(f"quality gate {stage['gate']}: {stage['n_in']}→{stage['n_pass']}")
            remaining -= rejected

        fates = pq.read_table(self.out, columns=["doc_id", "fate"]).to_pydict()
        got = dict(zip(fates["doc_id"], fates["fate"]))
        junk = set(exp["junk"])
        near = set(exp["near_dup_dropped"])
        sem = sem_dropped
        want = {
            i: "low_quality" if i in junk else "near_dup" if i in near
            else "semantic_dup" if i in sem else "kept"
            for i in range(n_docs)
        }
        if len(fates["doc_id"]) != n_docs or got != want:
            bad = sum(got.get(i) != f for i, f in want.items())
            problems.append(f"fate table: {bad} of {n_docs} docs differ")
        return problems


class DailyBatch:
    """The paper's two batch pipelines back to back: the WAPE report,
    then the anonymization of the day's folder."""

    name = "daily_batch"

    def __init__(self, spark, input_dir: str, manifest: dict, run_dir: str):
        self.parts = [
            cls(spark, os.path.join(input_dir, cls.name),
                {"expected": manifest["expected"][cls.name]}, os.path.join(run_dir, cls.name))
            for cls in (WapeReport, AnonymizeFolder)
        ]

    def reset(self) -> None:
        for p in self.parts:
            p.reset()

    def run(self, tr) -> list:
        return [p.run(tr) for p in self.parts]

    def check(self, result: list) -> list[str]:
        return [x for p, r in zip(self.parts, result) for x in p.check(r)]

    def bytes_out(self) -> int:
        return sum(p.bytes_out() for p in self.parts)

    def counters(self, result: list) -> dict:
        out = {}
        for p, r in zip(self.parts, result):
            out.update(p.counters(r))
        return out


WORKLOADS = {w.name: w for w in (DailyBatch, CorpusCuration)}
