"""The shared superstep discipline for DataFrame-iterative operators.

PageRank (operators/graph.py), min-label propagation and the
large-star/small-star contraction (operators/dedup.py) all iterate the
same shape — state ← step(state) until a fixpoint or a round budget —
and all need the same two pieces of lineage hygiene that are easy to
get subtly wrong per call site:

- **localCheckpoint truncation** every round (or every K rounds), or
  round N replans rounds 1..N−1 and eventually re-executes from the
  scan. Convergence-checked loops checkpoint LAZILY: the convergence
  action (a 1-row sum, a count) materializes the checkpoint in the
  SAME Spark job — an eager checkpoint would cost a second full job
  per round (a Spark job of trivial Python tasks costs ~0.1 s with one
  task, ~0.15 s with 4 and ~0.3 s with 16 on 4 cores; see the latency
  model in the engine module docstring). Fixed-round loops have no
  per-round action, so they checkpoint EAGERLY (a lazy mark with no
  action truncates nothing until the caller's terminal action replans
  the full tree).
- **Convergence runs on the checkpointed frame**, never the raw plan,
  so the fixpoint test and the returned state are the same relation.

This is the DataFrame analogue of the engine's iteration loop
(reference GuaguaMasterService.run, master/GuaguaMasterService.java:
185-293) for models too large to collect: the "master compute" is a
join + partial agg Catalyst plans, and the halt check is a collected
scalar instead of a HaltBytable.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame


def dataframe_supersteps(
    state: DataFrame,
    step_fn: Callable[[DataFrame, int], DataFrame],
    max_rounds: int,
    convergence: Callable[[DataFrame, DataFrame, int], bool] | None = None,
    checkpoint_every: int = 1,
) -> tuple[DataFrame, int, bool]:
    """Iterate ``state ← step_fn(state, i)`` with the superstep
    lineage discipline (module docstring).

    ``step_fn`` is pure plan construction (it may pin its own
    intermediates — the star contraction lazily checkpoints its
    large-star edge set mid-step). Static per-round relations (edge
    lists, weights) are the CALLER's to persist and release.

    ``convergence(prev, nxt, i)`` decides the fixpoint; it runs after
    the round's lazy checkpoint, so whatever action it takes (sum,
    count, anti-join emptiness) materializes that checkpoint for free.
    Loop-carried memory (the previous round's certificate scalar)
    lives in the caller's closure.

    Returns ``(state, rounds_used, converged)``; ``converged`` is
    False only when a convergence-checked loop ran out of rounds —
    callers escalate (connected_components restarts on the star
    contraction) or raise, but never use the partial state silently.
    Fixed-round loops (``convergence=None``) always report True and
    skip the final round's checkpoint (the caller's own terminal
    action covers it).
    """
    rounds = 0
    for i in range(max_rounds):
        rounds += 1
        nxt = step_fn(state, i)
        if convergence is None:
            if (i + 1) % checkpoint_every == 0 and i + 1 < max_rounds:
                nxt = nxt.localCheckpoint()
            state = nxt
            continue
        if (i + 1) % checkpoint_every == 0:
            nxt = nxt.localCheckpoint(eager=False)
        if convergence(state, nxt, i):
            return nxt, rounds, True
        state = nxt
    return state, rounds, convergence is None
