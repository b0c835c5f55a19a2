"""Empirical probe: per-epoch keyed-state upsert cost vs ACCUMULATED
state size, for the keyed-state store
(:mod:`airflow_subscription_etl_spark.streaming.bucketed_state`).

The scale claim under test (SCALE.md §Streaming): the per-epoch IO of
:func:`bucketed_state.upsert_keyed_buckets` is DELTA-sized — a
fixed-size micro-batch costs the same against a small state as against
an 8× one, because only the bucket chains the batch's keys hash into
are read and rewritten.

Method: build two state roots by replaying ``n_epochs`` seed batches
of ``state_rows``/``n_epochs`` keyed rows (1× and 8× ``state_rows``),
then time ONE further fixed-size delta batch (``delta_rows``, keys
drawn from the existing key space so buckets are genuinely dirtied)
against each. The whole apply-and-replay sequence first runs once on a
throwaway 1× root, so JVM and code-generation warm-up lands on neither
timed root; the timed passes then alternate between the two roots,
flipping their order every pass, so drift is shared. Driver-side IO
only — no query code touched.

Usage: python tools/state_probe.py [state_rows] [delta_rows]
Defaults: 40_000 / 1_000. Prints a small human table; exits nonzero if
the growth ratio exceeds 1.5× (the flatness claim) or a same-id replay
costs more than 2× a first apply.
"""

from __future__ import annotations

import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from airflow_subscription_etl_spark import get_spark  # noqa: E402
from airflow_subscription_etl_spark.streaming import bucketed_state  # noqa: E402

N_EPOCHS = 4
N_BUCKETS = 64


def build_state(spark, root: str, n_rows: int) -> None:
    per = n_rows // N_EPOCHS
    for e in range(N_EPOCHS):
        df = (
            spark.range(e * per, (e + 1) * per)
            .selectExpr("id AS k", f"id * 10 + {e} AS v")
        )
        bucketed_state.upsert_keyed_buckets(
            df, root, "k", "v", e, n_buckets=N_BUCKETS
        )


def _delta(spark, n_state: int, delta_rows: int):
    return spark.range(delta_rows).selectExpr(
        f"(id * 37) % {n_state} AS k",  # existing keys → dirty buckets
        "id + 1000000 AS v",
    )


def time_delta_upserts(
    spark, roots: dict[int, tuple[str, int]], delta_rows: int
) -> dict[int, tuple[float, float]]:
    """(apply_sec, replay_sec) per root for one fixed delta batch: pass
    0 first-applies epoch N_EPOCHS, passes 1–2 re-deliver the SAME id —
    identical merge work routed through the replay path (write-aside +
    delete+rename), so the pair separates the swap overhead from the
    merge itself. Every pass times each root once, in alternating
    order. replay_sec is the MIN of the two replay passes (a single
    unaveraged sample let one host stall falsely fail the
    replay-overhead gate; a stall in the APPLY sample only shrinks the
    ratio, so it needs no smoothing). Growth comparisons use min over
    all passes."""
    times: dict[int, list[float]] = {m: [] for m in roots}
    for p in range(3):
        for mult in sorted(roots, reverse=p % 2 == 1):
            root, n_state = roots[mult]
            delta = _delta(spark, n_state, delta_rows)
            t0 = time.time()
            bucketed_state.upsert_keyed_buckets(
                delta, root, "k", "v", N_EPOCHS, n_buckets=N_BUCKETS
            )
            times[mult].append(time.time() - t0)
    return {m: (t[0], min(t[1:])) for m, t in times.items()}


def main() -> int:
    state_rows = int(sys.argv[1]) if len(sys.argv) > 1 else 40_000
    delta_rows = int(sys.argv[2]) if len(sys.argv) > 2 else 1_000
    import shutil  # noqa: PLC0415

    spark = get_spark("state-probe")
    base = tempfile.mkdtemp(prefix="state_probe_")
    try:
        warm = f"{base}/state_warm"
        build_state(spark, warm, state_rows)
        time_delta_upserts(spark, {1: (warm, state_rows)}, delta_rows)
        roots = {}
        for mult in (1, 8):
            roots[mult] = (f"{base}/state_{mult}x", state_rows * mult)
            build_state(spark, *roots[mult])
        pairs = time_delta_upserts(spark, roots, delta_rows)
    finally:
        # three state roots (up to 10x state_rows of parquet) must not
        # accumulate under /tmp across probe runs
        shutil.rmtree(base, ignore_errors=True)
    for mult, (_, n) in roots.items():
        print(
            f"# {mult}x state ({n} keys): "
            f"apply {pairs[mult][0]:.2f}s, same-id replay {pairs[mult][1]:.2f}s",
            file=sys.stderr,
        )
    b1, b8 = min(pairs[1]), min(pairs[8])
    print(
        f"state_rows={state_rows} delta_rows={delta_rows} "
        f"epochs={N_EPOCHS} buckets={N_BUCKETS}"
    )
    print(
        f"delta upsert: 1x {b1:.2f}s  8x {b8:.2f}s  growth {b8 / b1:.2f}x  "
        "(claim: ~flat — delta-sized IO)"
    )
    # the same-id replay routes through the write-aside swap; its
    # overhead over a first apply should be the aside's extra
    # existence-check + delete + rename — metadata ops, not data-sized
    # work. Reported at 8x state where a data-sized regression would
    # show largest.
    ba, br = pairs[8]
    print(
        f"replay-vs-apply at 8x: {br / ba:.2f}x  "
        "(claim: ~1x — write-aside adds metadata ops, not data IO)"
    )
    spark.stop()
    if b8 / b1 > 1.5:
        print("FAIL: delta upsert grew >1.5x with 8x state")
        return 1
    if br / ba > 2.0:
        print("FAIL: same-id replay costs >2x a first apply")
        return 1
    print("OK: per-epoch upsert cost flat in accumulated state size")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
