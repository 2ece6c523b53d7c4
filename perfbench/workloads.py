"""The three workloads: seeded inputs, one timed round, and its checks.

A workload is a class with four steps, all driven by ``run.py``:

- ``materialize(seed)`` writes every input to parquet from pure Spark
  expressions over ids (set-up; the program only ever reads these files);
- ``run_round(i)`` issues the timed public calls one after another
  (closed loop), each inside a span, and returns its raw outputs;
- ``oracle()`` recomputes the expected outputs on the driver (numpy);
- ``check(out, expect)`` compares one round's outputs with the oracle and
  returns ``[(check name, ok, detail)]`` plus the round's quality figures.

Cache hygiene: the session cache is cleared before every call that does
not consume a build output persisted earlier in the same round, and
everything persisted is unpersisted when the round ends; every round
writes to fresh checkpoint and output directories.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from . import oracle

P = 0.01
FPP_RATIO_LIMIT = 2.0  # FIXTURES.md F7: observed FPP at most 2x the configured p


def _code_keys(spark, n: int, seed: int, parts: int):
    """The source-code table with a seeded ``sha`` key per file, a seeded
    disjoint ``miss`` key, a seeded numeric ``val`` and a seeded member
    coin.  The table shape and its skew (repo-0 holds 1/4 of the rows)
    come from ``bloomspark.sources.source_code_table``; the seed salts the
    hashed columns, so every seed gives other keys over the same shape."""
    from bloomspark.sources import source_code_table

    salt = F.lit(f"seed{seed}:")
    sha = F.sha2(F.concat(salt, F.col("content")), 256)
    return source_code_table(spark, n, partitions=parts).select(
        "repo",
        sha.alias("sha"),
        F.sha2(F.concat(salt, F.lit("miss:"), F.col("content")), 256).alias("miss"),
        F.conv(F.substring(sha, 1, 8), 16, 10).cast("double").alias("val"),
        (F.pmod(F.xxhash64(sha), F.lit(2)) == 0).alias("is_member"),
    )


def _probe_rows(code, cols=("repo",)):
    """Half members, half disjoint keys: the member-coin rows probe their
    own key, the others probe their disjoint ``miss`` key."""
    key = F.when(F.col("is_member"), F.col("sha")).otherwise(F.col("miss"))
    return code.select(*cols, key.alias("sha"), "is_member")


def _count(df) -> int:
    return int(df.where("member").count())


def _collect_bitsets(df, key: str, payload: str) -> dict:
    pdf = df.select(key, payload).toPandas()
    return {str(k): oracle.md5(v) for k, v in zip(pdf[key], pdf[payload])}


class Workload:
    name = ""

    def __init__(self, spark, tracer, cores: int, work: str):
        self.spark = spark
        self.tracer = tracer
        self.cores = cores
        self.work = work

    def path(self, name: str) -> str:
        return os.path.join(self.work, "inputs", name)

    def call(self, name: str, fn, *, build: int = 0, probe: int = 0, clear: bool = True):
        """One public call, timed as a span; ``build`` and ``probe`` count
        the keys it inserts and the keys it probes."""
        if clear:
            self.spark.catalog.clearCache()
        with self.tracer.span(name, call=True, build=build, probe=probe):
            return fn()

    def verify(self, name: str, fn):
        """Output collection for the checks: inside the round, outside any
        call span."""
        with self.tracer.span("bench.verify." + name):
            return fn()

    def round_dir(self, i: int) -> str:
        d = os.path.join(self.work, f"round{i}")
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        return d

    def finish(self) -> dict:
        """Measurements made once per run after the rounds."""
        return {}

    def summary(self, outs: list) -> dict:
        """Workload-specific figures over the timed rounds' outputs."""
        return {}


class BulkMembership(Workload):
    """One large filter per call over N distinct ``sha`` keys: parity,
    counting, fast and checkpointed builds, then three probes over N probe
    keys that are half members and half disjoint."""

    name = "bulk_membership"
    n = 200_000  # distinct keys

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.buckets = 2 * self.cores  # one wave of two tasks per core
        self.cfg = self._config()
        self.ccfg = self._config(counting_bits=16)
        self.fcfg = self._config(hash_method="XXHash64KM")

    def _config(self, **kw):
        from bloomspark import FilterConfig

        return FilterConfig.complete(n=self.n, p=P, **kw)

    def materialize(self, seed: int) -> None:
        code = _code_keys(self.spark, self.n, seed, self.cores)
        code.select("sha").write.mode("overwrite").parquet(self.path("keys"))
        _probe_rows(code, ()).write.mode("overwrite").parquet(self.path("probes"))

    def key_path(self) -> str:
        return self.path("keys")

    def run_round(self, i: int) -> dict:
        from bloomspark import (build_bloom, build_bloom_checkpointed,
                                build_counting, build_fast_bloom,
                                with_estimated_count, with_fast_membership,
                                with_membership)

        read = self.spark.read.parquet
        keys, probes = self.path("keys"), self.path("probes")
        n, out = self.n, {}
        ck = os.path.join(self.round_dir(i), "checkpoint")
        bf = self.call("build.build_bloom", lambda: build_bloom(read(keys), "sha", self.cfg),
                       build=n)
        cbf = self.call("build.build_counting",
                        lambda: build_counting(read(keys), "sha", self.ccfg),
                        build=n)
        fbf = self.call("fast.build_fast_bloom",
                        lambda: build_fast_bloom(read(keys), "sha", self.fcfg),
                        build=n)
        out["fast_members"] = self.call(
            "fast.with_fast_membership",
            lambda: _count(with_fast_membership(read(probes), "sha", fbf, self.fcfg)),
            probe=n)
        ckbf = self.call(
            "checkpoint.build_bloom_checkpointed",
            lambda: build_bloom_checkpointed(read(keys), "sha", self.cfg, ck,
                                             num_buckets=self.buckets),
            build=n)
        rebf = self.call(
            "checkpoint.resume",
            lambda: build_bloom_checkpointed(read(keys), "sha", self.cfg, ck,
                                             num_buckets=self.buckets))
        out["members"] = self.call(
            "probe.with_membership",
            lambda: _count(with_membership(read(probes), "sha", bf)),
            probe=n)
        out["est_sum"] = self.call(
            "probe.with_estimated_count",
            lambda: int(with_estimated_count(read(probes), "sha", cbf)
                        .agg(F.sum("est_count")).first()[0]),
            probe=n)

        def outputs():
            lineage = json.load(open(os.path.join(ck, "lineage.json")))
            return {
                "bloom": oracle.md5(bf.bits),
                "counting": oracle.md5(cbf.counters),
                "fast": oracle.md5(fbf.bits),
                "checkpoint": oracle.md5(ckbf.bits),
                "resumed": oracle.md5(rebf.bits),
                "buckets_reused_ratio": len(lineage["resumed_buckets"])
                / lineage["num_buckets"],
                "resume_rows": lineage["total_rows"],
            }

        out.update(self.verify("bitsets", outputs))
        return out

    def oracle(self) -> dict:
        keys = oracle.read_keys(self.path("keys"))
        probes = oracle.read_keys(self.path("probes"))
        is_member = oracle.read_column(self.path("probes"), "is_member")
        is_member = is_member.to_numpy(zero_copy_only=False)
        pos = oracle.positions(keys, self.cfg)
        bits = oracle.bloom_bits(pos, self.cfg)
        cnt = oracle.counters(oracle.positions(keys, self.ccfg), self.ccfg)
        fbits = oracle.bloom_bits(oracle.positions(keys, self.fcfg), self.fcfg)
        ppos = oracle.positions(probes, self.cfg)
        fpos = oracle.positions(probes, self.fcfg)
        hit = oracle.members(bits, ppos)
        fhit = oracle.members(fbits, fpos)
        return {
            "bloom": oracle.md5(bits),
            "counting": oracle.md5(cnt),
            "fast": oracle.md5(fbits),
            "members": int(hit.sum()),
            "fast_members": int(fhit.sum()),
            "missed_members": int((~hit[is_member]).sum() + (~fhit[is_member]).sum()),
            "member_probes": int(is_member.sum()),
            "disjoint_probes": int((~is_member).sum()),
            "est_sum": oracle.estimated_count_sum(
                cnt, oracle.positions(probes, self.ccfg)),
            "rows": len(keys),
        }

    def check(self, out: dict, expect: dict):
        checks = [
            ("build_bloom md5", out["bloom"] == expect["bloom"], out["bloom"]),
            ("build_counting md5", out["counting"] == expect["counting"], out["counting"]),
            ("build_fast_bloom md5", out["fast"] == expect["fast"], out["fast"]),
            ("checkpointed md5", out["checkpoint"] == expect["bloom"], out["checkpoint"]),
            ("resumed md5", out["resumed"] == expect["bloom"], out["resumed"]),
            ("resume reused every bucket", out["buckets_reused_ratio"] == 1.0,
             out["buckets_reused_ratio"]),
            ("checkpoint rows", out["resume_rows"] == expect["rows"], out["resume_rows"]),
            ("no missed member", expect["missed_members"] == 0, expect["missed_members"]),
            ("with_membership count", out["members"] == expect["members"], out["members"]),
            ("with_fast_membership count", out["fast_members"] == expect["fast_members"],
             out["fast_members"]),
            ("with_estimated_count sum", out["est_sum"] == expect["est_sum"], out["est_sum"]),
        ]
        fp = (out["members"] - expect["member_probes"]
              + out["fast_members"] - expect["member_probes"])
        fpp_ratio = fp / (2 * expect["disjoint_probes"]) / P
        checks.append(("fpp_ratio <= 2", fpp_ratio <= FPP_RATIO_LIMIT, fpp_ratio))
        return checks, {"fpp_ratio": fpp_ratio}

    def finish(self) -> dict:
        """Scaling: the same parity build over the same keys as one task
        (one busy core) and as ``cores`` tasks, md5-equal outputs."""
        from bloomspark import build_bloom

        df = self.spark.read.parquet(self.path("keys"))
        times, md5s = {}, {}
        for label, frame in (("one", df.coalesce(1)), ("all", df)):
            self.spark.catalog.clearCache()
            with self.tracer.span("bench.scaling." + label) as s:
                bf = build_bloom(frame, "sha", self.cfg)
            times[label], md5s[label] = s.seconds, oracle.md5(bf.bits)
        eff = times["one"] / (self.cores * times["all"])
        return {
            "scaling_efficiency": eff,
            "scaling_md5_equal": md5s["one"] == md5s["all"],
            "scaling_seconds": times,
        }


class GroupedSkew(Workload):
    """Many small filters and sketches over the skewed code table: one
    filter per repo (repo-0 holds 1/4 of the rows), counting filters per
    repo, the probe of each row against its own repo's filter, four
    whole-table sketches and one HLL per repo, and a sharded filter with
    its cogroup probe."""

    name = "grouped_skew"
    SHARDS = 16

    n = 100_000  # code-table rows

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        from bloomspark import FilterConfig

        # per-repo filters share one config sized for the hot repo
        self.cfg = FilterConfig.complete(n=self.n // 4, p=P)
        self.gccfg = FilterConfig.complete(n=4096, p=P, counting_bits=16)
        self.scfg = FilterConfig.complete(n=self.n // self.SHARDS, p=P)

    def materialize(self, seed: int) -> None:
        code = _code_keys(self.spark, self.n, seed, self.cores)
        code.select("repo", "sha", "val").write.mode("overwrite").parquet(self.path("code"))
        _probe_rows(code).write.mode("overwrite").parquet(self.path("probes"))

    def key_path(self) -> str:
        return self.path("code")

    def _sketches(self):
        from bloomspark.sketches import (FrequentItemsSketch, HyperLogLog,
                                         KLLSketch, ThetaSketch)

        return {
            "hll": ("sha", HyperLogLog(p=14)),
            "theta": ("sha", ThetaSketch(k=4096)),
            "kll": ("val", KLLSketch(k=200)),
            "frequent": ("repo", FrequentItemsSketch(k=256)),
        }

    QUANTILES = (0.1, 0.5, 0.9, 0.99)

    def run_round(self, i: int) -> dict:
        from bloomspark import (build_bloom_per_group, build_counting_per_group,
                                build_sharded_bloom, with_group_membership,
                                with_sharded_membership)
        from bloomspark.grouped import collect_group_counting_filters, collect_group_filters
        from bloomspark.sketches import HyperLogLog, build_sketch
        from bloomspark.sketches.engine import build_sketch_per_group

        read = self.spark.read.parquet
        code, probes = self.path("code"), self.path("probes")
        n, out = self.n, {}

        def grouped_build():
            g = build_bloom_per_group(read(code), "repo", "sha", self.cfg).persist()
            return g, collect_group_filters(g, self.cfg)

        g, filters = self.call("grouped.build_bloom_per_group", grouped_build,
                               build=n)
        out["group_members"] = self.call(
            "grouped.with_group_membership",
            lambda: _count(with_group_membership(
                read(probes), "repo", "sha", g, self.cfg, n_groups=len(filters))),
            probe=n, clear=False)
        cfilters = self.call(
            "grouped.build_counting_per_group",
            lambda: collect_group_counting_filters(
                build_counting_per_group(read(code), "repo", "sha", self.gccfg), self.gccfg),
            build=n)
        sketches = {}
        for label, (col, sk) in self._sketches().items():
            sketches[label] = self.call(
                f"sketches.build_sketch.{label}",
                lambda col=col, sk=sk: build_sketch(read(code), col, sk),
                build=n)
        per_repo = self.call(
            "sketches.build_sketch_per_group",
            lambda: build_sketch_per_group(read(code), "repo", "sha", HyperLogLog(p=12))
            .toPandas(),
            build=n)

        def sharded_build():
            sh = build_sharded_bloom(read(code), "sha", self.scfg,
                                     num_shards=self.SHARDS).persist()
            sh.count()
            return sh

        sh = self.call("sharded.build_sharded_bloom", sharded_build, build=n)
        out["sharded_members"] = self.call(
            "sharded.with_sharded_membership",
            lambda: _count(with_sharded_membership(
                read(probes), "sha", sh, self.scfg, num_shards=self.SHARDS)),
            probe=n, clear=False)

        def outputs():
            hll12 = HyperLogLog(p=12)
            res = {
                "groups": {k: oracle.md5(v.bits) for k, v in filters.items()},
                "counting": {k: oracle.md5(v.counters) for k, v in cfilters.items()},
                "shards": _collect_bitsets(sh, "shard", "bitset"),
                "hll": sketches["hll"].estimate(),
                "theta": sketches["theta"].estimate(),
                "kll": [sketches["kll"].quantile(q) for q in self.QUANTILES],
                "frequent": {item: (lo, hi) for item, lo, hi in sketches["frequent"].top_k(5)},
                "per_repo": {
                    str(r): hll12.estimate(hll12.deserialize(bytes(p)))
                    for r, p in zip(per_repo["group"], per_repo["payload"])
                },
                "sketch_rows": {k: v.rows for k, v in sketches.items()},
            }
            g.unpersist()
            sh.unpersist()
            return res

        out.update(self.verify("outputs", outputs))
        return out

    def oracle(self) -> dict:
        from bloomspark.hashing import xxh64

        code, probes = self.path("code"), self.path("probes")
        keys = oracle.read_keys(code)
        repos = oracle.read_column(code, "repo").to_numpy(zero_copy_only=False)
        vals = np.sort(oracle.read_column(code, "val").to_numpy())
        shard = xxh64(keys).view(np.int64) % self.SHARDS
        pkeys = oracle.read_keys(probes)
        prepos = oracle.read_column(probes, "repo").to_numpy(zero_copy_only=False)
        is_member = oracle.read_column(probes, "is_member").to_numpy(zero_copy_only=False)

        gbits = oracle.group_bits(repos, keys, self.cfg)
        ppos = oracle.positions(pkeys, self.cfg)
        ghit = np.zeros(len(pkeys), dtype=bool)
        for r, bits in gbits.items():
            sel = prepos == r
            ghit[sel] = oracle.members(bits, ppos[sel])
        sbits = oracle.group_bits(shard, keys, self.scfg)
        pshard = xxh64(pkeys).view(np.int64) % self.SHARDS
        spos = oracle.positions(pkeys, self.scfg)
        shit = np.zeros(len(pkeys), dtype=bool)
        for s, bits in sbits.items():
            sel = pshard == s
            shit[sel] = oracle.members(bits, spos[sel])
        counts = oracle.value_counts(code, "repo")
        return {
            "groups": {str(k): oracle.md5(v) for k, v in gbits.items()},
            "counting": {str(k): oracle.md5(v) for k, v in
                         oracle.group_counters(repos, keys, self.gccfg).items()},
            "shards": {str(k): oracle.md5(v) for k, v in sbits.items()},
            "group_members": int(ghit.sum()),
            "sharded_members": int(shit.sum()),
            "missed_members": int((~ghit[is_member]).sum() + (~shit[is_member]).sum()),
            "member_probes": int(is_member.sum()),
            "disjoint_probes": int((~is_member).sum()),
            "distinct": len(keys),
            "vals": vals,
            "repo_counts": counts,
        }

    def check(self, out: dict, expect: dict):
        from bloomspark.sketches import HyperLogLog, ThetaSketch

        n = expect["distinct"]
        checks = [
            ("per-group bloom md5", out["groups"] == expect["groups"], len(out["groups"])),
            ("per-group counting md5", out["counting"] == expect["counting"],
             len(out["counting"])),
            ("sharded md5", out["shards"] == expect["shards"], len(out["shards"])),
            ("no missed member", expect["missed_members"] == 0, expect["missed_members"]),
            ("with_group_membership count", out["group_members"] == expect["group_members"],
             out["group_members"]),
            ("with_sharded_membership count",
             out["sharded_members"] == expect["sharded_members"], out["sharded_members"]),
            ("sketch rows", all(r == n for r in out["sketch_rows"].values()),
             out["sketch_rows"]),
        ]
        # analytic bounds: 4 standard errors for one estimate, 5 for the
        # worst of ~100 per-repo estimates; KLL rank error 3/k + 1 %
        errors = {}
        hll_se = HyperLogLog(p=14).standard_error()
        errors["hll"] = abs(out["hll"] - n) / n
        checks.append(("HyperLogLog within 4 SE", errors["hll"] <= 4 * hll_se, errors["hll"]))
        theta_se = ThetaSketch(k=4096).standard_error()
        errors["theta"] = abs(out["theta"] - n) / n
        checks.append(("Theta within 4 SE", errors["theta"] <= 4 * theta_se, errors["theta"]))
        vals = expect["vals"]
        rank_err = max(
            abs(np.searchsorted(vals, est, side="right") / len(vals) - q)
            for q, est in zip(self.QUANTILES, out["kll"])
        )
        errors["kll"] = rank_err
        checks.append(("KLL rank error", rank_err <= 3 / 200 + 0.01, rank_err))
        freq_err = max(
            abs(lo - expect["repo_counts"][item]) / expect["repo_counts"][item]
            for item, (lo, _hi) in out["frequent"].items()
        )
        top = max(expect["repo_counts"], key=expect["repo_counts"].get)
        errors["frequent"] = freq_err
        checks.append(("FrequentItems exact top-5", freq_err == 0 and top in out["frequent"],
                       freq_err))
        se12 = HyperLogLog(p=12).standard_error()
        per_repo = max(
            abs(est - expect["repo_counts"][r]) / expect["repo_counts"][r]
            for r, est in out["per_repo"].items()
        )
        errors["per_repo_hll"] = per_repo
        checks.append(("per-repo HLL within 5 SE",
                       per_repo <= 5 * se12 and len(out["per_repo"]) == len(expect["repo_counts"]),
                       per_repo))
        fp = (out["group_members"] + out["sharded_members"] - 2 * expect["member_probes"])
        fpp_ratio = fp / (2 * expect["disjoint_probes"]) / P
        checks.append(("fpp_ratio <= 2", fpp_ratio <= FPP_RATIO_LIMIT, fpp_ratio))
        return checks, {"fpp_ratio": fpp_ratio, "sketch_rel_error": max(errors.values()),
                        "sketch_errors": errors}


class StreamDedup(Workload):
    """Small writes interleaved with reads: a file-source stream of
    pre-written batches, each overlapping the previous one by half, runs
    through ``streaming_dedup`` (probe the accumulated filter, append the
    survivors, OR them into the checkpointed bitset); then a windowed
    distinct-count stream over an events table; then a probe of disjoint
    keys against the filter the stream left behind."""

    name = "stream_dedup"
    EVENT_WINDOWS = 12
    USERS = 3000  # < Theta k=4096, so each window's estimate is exact
    h, b = 25_000, 3  # half a batch, batches
    n_events, n_disjoint = 24_000, 150_000

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        from bloomspark import FilterConfig

        self.distinct = (self.b + 1) * self.h
        self.cfg = FilterConfig.complete(n=self.distinct, p=P)

    def materialize(self, seed: int) -> None:
        spark, h, b = self.spark, self.h, self.b
        salt = F.lit(f"seed{seed}:")
        ids = spark.range(0, (b + 1) * h, 1, self.cores)
        # key id lands in batch id//h and in batch id//h - 1: batch j holds
        # ids [j*h, (j+2)*h), half of them shared with batch j-1
        rows = ids.select(
            F.sha2(F.concat(salt, F.col("id").cast("string")), 256).alias("sha"),
            F.explode(F.array((F.col("id") / h).cast("long"),
                              (F.col("id") / h).cast("long") - 1)).alias("batch"),
        ).where(F.col("batch").between(0, b - 1))
        staging = self.path("batches_staging")
        rows.repartition(b, "batch").write.mode("overwrite").partitionBy("batch").parquet(staging)
        src = self.path("stream_src")
        shutil.rmtree(src, ignore_errors=True)
        os.makedirs(src)
        for j in range(b):
            part = os.path.join(staging, f"batch={j}")
            (name,) = [f for f in os.listdir(part) if f.endswith(".parquet")]
            dest = os.path.join(src, f"batch-{j:04d}.parquet")
            shutil.move(os.path.join(part, name), dest)
            # the file source takes files oldest first: pin the batch order
            os.utime(dest, (1_600_000_000 + j, 1_600_000_000 + j))
        shutil.rmtree(staging)
        start = 1_699_999_200  # on an hour boundary
        span_s = self.EVENT_WINDOWS * 3600
        spark.range(0, self.n_events, 1, 2).select(
            F.timestamp_seconds(F.lit(start) + F.floor(F.col("id") * span_s / self.n_events))
            .alias("ts"),
            F.pmod(F.xxhash64(salt, F.col("id")), F.lit(self.USERS)).alias("user_id"),
        ).write.mode("overwrite").parquet(self.path("events"))
        spark.range(0, self.n_disjoint, 1, self.cores).select(
            F.sha2(F.concat(salt, F.lit("miss:"), F.col("id").cast("string")), 256)
            .alias("sha")
        ).write.mode("overwrite").parquet(self.path("disjoint"))

    def key_path(self) -> str:
        return self.path("stream_src")

    def summary(self, outs: list) -> dict:
        """Micro-batch latency: the median and the highest percentile with
        at least 10 samples beyond it, with its sample count."""
        lat = sorted(b["triggerExecution"] / 1e3 for o in outs for b in o["batches"])
        res = {"batch_latency_p50_s": float(np.median(lat)), "batch_samples": len(lat)}
        if len(lat) > 10:
            pct = int(100 * (1 - 10 / len(lat)))
            res["batch_latency_tail_pct"] = pct
            res["batch_latency_tail_s"] = lat[int(len(lat) * pct / 100)]
        for k in ("addBatch", "queryPlanning", "triggerExecution"):
            res[f"streaming.{k}_ms"] = float(np.median(
                [b[k] for o in outs for b in o["batches"]]))
        res["streaming.state_bytes"] = max(o["state_bytes"] for o in outs)
        return res

    def run_round(self, i: int) -> dict:
        from bloomspark import BloomFilter, with_membership
        from bloomspark.streaming import streaming_dedup, windowed_distinct_stream

        spark = self.spark
        d = self.round_dir(i)
        ck, out_dir = os.path.join(d, "ck"), os.path.join(d, "out")
        out = {"out_dir": out_dir}
        stream_rows = 2 * self.h * self.b

        def dedup():
            src = (spark.readStream.schema("sha string")
                   .option("maxFilesPerTrigger", 1).parquet(self.path("stream_src")))
            q = streaming_dedup(src, "sha", self.cfg, ck, out_dir,
                                query_name=f"perfbench_dedup_{i}")
            try:
                q.processAllAvailable()
            finally:
                q.stop()
            return [p for p in q.recentProgress if p.numInputRows > 0]

        # every streamed row is probed; the survivors are inserted
        progress = self.call("streaming.streaming_dedup", dedup, build=stream_rows,
                             probe=stream_rows)
        out["batches"] = [
            {"rows": p.numInputRows, **{k: p.durationMs.get(k, 0) for k in
                                         ("triggerExecution", "addBatch", "queryPlanning",
                                          "getBatch", "walCommit")}}
            for p in progress
        ]

        def windowed():
            events = spark.readStream.schema("ts timestamp, user_id long").parquet(
                self.path("events"))
            name = f"perfbench_windowed_{i}"
            q = (windowed_distinct_stream(events, key_col="user_id", time_col="ts")
                 .writeStream.format("memory").queryName(name).outputMode("update")
                 .option("checkpointLocation", os.path.join(d, "windowed_ck"))
                 .start())
            try:
                q.processAllAvailable()
            finally:
                q.stop()
            out["state_bytes"] = max(
                [p.stateOperators[0].memoryUsedBytes for p in q.recentProgress
                 if p.stateOperators] or [0])
            return (spark.table(name).groupBy("window_start")
                    .agg(F.max("estimate").alias("est")).toPandas())

        windows = self.call("streaming.windowed_distinct_stream", windowed,
                            build=self.n_events)
        out["windows"] = {int(ts.timestamp()): float(e)
                          for ts, e in zip(windows["window_start"], windows["est"])}

        def filter_left_behind():
            with open(os.path.join(ck, "bitset.bin"), "rb") as f:
                return BloomFilter.from_bytes(self.cfg, f.read())

        bf = self.verify("load_filter", filter_left_behind)
        out["disjoint_hits"] = self.call(
            "probe.with_membership",
            lambda: _count(with_membership(spark.read.parquet(self.path("disjoint")),
                                           "sha", bf)),
            probe=self.n_disjoint)
        out["bitset"] = oracle.md5(bf.bits)
        out["stream_rows"] = sum(b["rows"] for b in out["batches"])
        return out

    def oracle(self) -> dict:
        src = self.path("stream_src")
        inputs = pq.read_table(src, columns=["sha"]).column("sha").combine_chunks()
        events = pq.read_table(self.path("events"))
        window = pc.divide(pc.cast(pc.cast(events.column("ts"), "timestamp[s]"), "int64"),
                           3600)
        per_window = (
            events.append_column("w", window).group_by("w")
            .aggregate([("user_id", "count_distinct")])
        )
        return {
            "distinct_inputs": len(pc.unique(inputs)),
            "inputs": inputs,
            "windows": {int(w) * 3600: int(c) for w, c in zip(
                per_window.column("w").to_pylist(),
                per_window.column("user_id_count_distinct").to_pylist())},
        }

    def check(self, out: dict, expect: dict):
        emitted = oracle.read_column(out["out_dir"], "sha")
        bits = oracle.bloom_bits(oracle.positions(oracle.read_keys(out["out_dir"]), self.cfg),
                                 self.cfg)
        false_drops = expect["distinct_inputs"] - len(emitted)
        fpp_ratio = out["disjoint_hits"] / self.n_disjoint / P
        checks = [
            ("every batch streamed", out["stream_rows"] == 2 * self.h * self.b
             and len(out["batches"]) == self.b, out["stream_rows"]),
            ("no duplicate emitted", len(pc.unique(emitted)) == len(emitted), len(emitted)),
            ("emitted keys are inputs", bool(pc.all(pc.is_in(emitted, expect["inputs"])).as_py()),
             len(emitted)),
            ("false drops within 2p", 0 <= false_drops <= FPP_RATIO_LIMIT * P
             * expect["distinct_inputs"], false_drops),
            ("checkpointed bitset md5", out["bitset"] == oracle.md5(bits), out["bitset"]),
            ("windowed distinct exact", out["windows"] == expect["windows"],
             len(out["windows"])),
            ("fpp_ratio <= 2", fpp_ratio <= FPP_RATIO_LIMIT, fpp_ratio),
        ]
        return checks, {"fpp_ratio": fpp_ratio,
                        "false_drop_ratio": false_drops / expect["distinct_inputs"] / P}


WORKLOADS = {w.name: w for w in (BulkMembership, GroupedSkew, StreamDedup)}
