"""The benchmark's workloads and their cached, seeded inputs.

Each workload names the registered queries one pass runs and the
generator that builds its inputs. Inputs are
cached under ``.perfbench/inputs/`` in the checkout (git-ignored), one
directory per workload, seed and size, so generation never lands in a
timed phase and a repeated seed is generated once.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from collections.abc import Callable
from dataclasses import dataclass, field

import gen


@dataclass(frozen=True)
class Workload:
    name: str
    queries: tuple[str, ...]
    #: queries that run Python code in the Spark workers
    python_queries: tuple[str, ...]
    #: every query returns (word, cnt) whose cnt sums to the corpus's
    #: token count
    token_sum: bool
    #: untimed passes before a traced run's timing, until pass times
    #: stop falling while the JIT compiles the workload's code paths
    warm_passes: int
    #: generator keyword arguments at full and at self-test size
    size: dict
    tiny: dict
    generator: Callable[..., dict] = field(repr=False)


WORKLOADS = {
    w.name: w for w in (
        Workload(
            name="wordcount_corpus",
            queries=("wordcount_canonical", "wordcount_fidelity",
                     "wordcount_rdd"),
            python_queries=("wordcount_rdd",),
            token_sum=True,
            warm_passes=3,
            size={"docs": 8000, "vocab": 60000},
            tiny={"docs": 300, "vocab": 2000},
            generator=gen.wordcount_corpus,
        ),
        Workload(
            name="neardup_corpus",
            queries=("dedup_minhash_det", "dedup_ngram_jaccard",
                     "dedup_simhash_det", "similarity_tfidf_pairs"),
            python_queries=(),
            token_sum=False,
            warm_passes=0,
            size={"docs": 1500, "vocab": 20000, "dup_rate": 0.1},
            tiny={"docs": 200, "vocab": 2000, "dup_rate": 0.1},
            generator=gen.neardup_corpus,
        ),
    )
}


def prepare_inputs(root: str, workload: Workload, seed: int,
                   tiny: bool = False) -> tuple[str, dict]:
    """Return ``(input_dir, stats)``, generating the inputs on a cache
    miss. ``stats`` carries the generator's counts plus ``bytes`` and
    ``gen_s`` (0 on a cache hit)."""
    size = workload.tiny if tiny else workload.size
    tag = "-".join(f"{k}{v}" for k, v in sorted(size.items()))
    # the basename is unique per workload, seed and size: queries that
    # write scratch output key it by this name
    out = os.path.join(root, ".perfbench", "inputs",
                       f"{workload.name}-s{seed}-{tag}")
    meta = os.path.join(out, "stats.json")
    if os.path.exists(meta):
        with open(meta) as f:
            return out, {**json.load(f), "gen_s": 0.0}
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    t0 = time.perf_counter()
    stats = workload.generator(tmp, seed, **size)
    stats["bytes"] = sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, fs in os.walk(tmp) for f in fs)
    with open(os.path.join(tmp, "stats.json"), "w") as f:
        json.dump(stats, f)
    os.replace(tmp, out)
    return out, {**stats, "gen_s": time.perf_counter() - t0}
