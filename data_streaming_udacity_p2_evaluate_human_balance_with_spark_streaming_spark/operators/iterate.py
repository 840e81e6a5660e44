"""Round drivers for the iterative operators: the one place that
checkpoints round by round and releases checkpoint blocks.

Iterative algorithms on Spark need lineage truncation: a round that
reads the previous round's frame twice doubles the logical plan per
round, and an un-truncated 2^k plan OOMs the driver during analysis.
A `localCheckpoint` per round resets the plan to a leaf (the GraphX
strategy). Its blocks are not evictable and `clearCache()` does not
see them, so every checkpoint a later round replaced must be released
explicitly once its successor's blocks exist — otherwise each call
strands one block set per round until a driver GC, measured degrading
later heavy queries in the same session by 2-3×.

Two loop shapes cover every operator:

- `fixed_rounds`: a round count fixed by the caller, no per-round
  driver decision. Per-round checkpoints are LAZY (with AQE a round's
  shuffles run when the next plan is built, so an eager per-round job
  only adds scheduling) and only the final round is eager; it
  materializes the whole chain, after which every replaced checkpoint
  is freed. Checkpoints between fused rounds are eager (see there).
- `fixpoint`: a data-dependent stop. Each round is checkpointed lazily
  and materialized by the round's single convergence job (`signal`),
  after which the round it replaced is freed.

Checkpoints that are part of a returned frame (BFS frontiers, ANF hop
snapshots) are never replaced, so those loops pin with
`localCheckpoint` directly and only use `free`."""

from __future__ import annotations

from functools import partial
from typing import Any, Callable

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame


def free(*frames: DataFrame) -> None:
    """Release the blocks of each checkpointed frame. A frame that is
    not itself a checkpoint (a projection of one) is skipped; the plan
    accessor is internal, so release is best-effort."""
    for df in frames:
        try:
            df._jdf.queryExecution().analyzed().rdd().unpersist(False)
        except Py4JError:
            pass


def _pin(pins: list, df: DataFrame) -> DataFrame:
    ck = df.localCheckpoint(eager=False)
    pins.append(ck)
    return ck


def fixed_rounds(
    init: DataFrame,
    step: Callable[[DataFrame, int, Callable], DataFrame],
    n: int,
    every: int = 1,
    inputs: tuple = (),
) -> DataFrame:
    """Apply `step(frame, k, pin)` for rounds k = 0..n-1 starting from
    `init`, checkpointing every `every`-th round and, eagerly, the final
    one; `pin(df)` lazily checkpoints an intermediate that a round reads
    more than once. With every == 1 the per-round checkpoints are lazy:
    the next round's stages materialize them. With every > 1 (rounds
    fused between checkpoints) each checkpoint is eager — a lazy chain
    of fused rounds measured ~25% slower on the Markov loop, its
    per-checkpoint cost growing along the chain (interleaved same-JVM
    A/B, sf0.01, 4 cores). Once the final round exists, `init`, every
    replaced round, every `pin`-ned intermediate and the loop-invariant
    `inputs` (checkpoints every round reads, such as an edge list) are
    freed. With n == 0 nothing ran, so `init` is returned untouched and
    nothing is freed — it may still read `inputs`."""
    if n == 0:
        return init
    spent = [init, *inputs]
    pin = partial(_pin, spent)
    cur = init
    for k in range(n):
        cur = step(cur, k, pin)
        if k == n - 1:
            cur = cur.localCheckpoint(eager=True)
        elif (k + 1) % every == 0:
            cur = cur.localCheckpoint(eager=every > 1)
            spent.append(cur)
    free(*spent)
    return cur


def fixpoint(
    init: DataFrame,
    step: Callable[[DataFrame, Any, Callable], DataFrame],
    signal: Callable[[DataFrame], Any],
    done: Callable[[Any, Any], bool],
    max_iter: int,
    inputs: tuple = (),
) -> tuple[DataFrame, int, bool]:
    """Iterate to a fixpoint. `signal(frame)` is the round's one job: it
    materializes the frame's lazy checkpoint and returns the value the
    convergence test reads. `done(previous, current)` compares two
    successive signals (previous is None for `init`'s). Each round
    builds `step(frame, signal, pin)` from the current frame and its
    signal and checkpoints it lazily; `pin(df)` lazily checkpoints an
    intermediate the round reads more than once. After a round's signal
    the frame it replaced and that round's intermediates are freed.
    `inputs` are loop-invariant checkpoints, freed on return if any
    round ran. Returns (frame, rounds, converged)."""
    cur, prev, rounds, spent = init, None, 0, []
    while True:
        sig = signal(cur)
        free(*spent)
        converged = done(prev, sig)
        if converged or rounds == max_iter:
            if rounds:
                free(*inputs)
            return cur, rounds, converged
        spent = [cur]
        cur = step(cur, sig, partial(_pin, spent)).localCheckpoint(eager=False)
        prev, rounds = sig, rounds + 1
