"""One driver for every convergence loop, planned on a session of its own.

``fixpoint(seed, step, measure)`` iterates ``state = step(state)`` until
a round leaves the state's signature unchanged. The signature is the row
count followed by the ``measure`` aggregates; callers choose measures
that move monotonically, so an unchanged signature means an unchanged
state.

Every round is planned on a child of the caller's session
(:func:`loop_session`): a clone, so runtime confs such as the session
time zone carry over, with three loop settings of its own.

- AQE off. A round's partitioning is already sized, so AQE has nothing
  to re-plan, but it would still run every shuffle stage as its own job.
- Auto-broadcast off. A broadcast build is a job of its own every round;
  the round's self-join runs as a shuffle join inside the round's one
  job instead.
- Shuffle width = measured rows // ``ROWS_PER_PARTITION`` (at least 1),
  re-pinned from each round's measurement. A metadata-sized state then
  pays one task per exchange, and a state that outgrows its seed
  spreads.

A round is one lazy ``localCheckpoint`` (which truncates the plan, so it
does not grow with the round count) plus one measuring aggregate, the
round's only action. The seed alone is planned on the caller's session:
its size is not known before it is measured, and there AQE sizes it.
The caller's session is never written to, so queries planned beside a
loop, on other threads, keep AQE and their width. The result comes back
rebound to the caller's session.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

ROWS_PER_PARTITION = 200_000
MAX_ROUNDS = 50


def rebind(df: DataFrame, session: SparkSession) -> DataFrame:
    """``df``'s logical plan as a DataFrame of ``session``: it is planned
    and run under that session's confs."""
    jds = session._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
        session._jsparkSession, df._jdf.logicalPlan()
    )
    return ClassicDataFrame(jds, session)


def pin_width(session: SparkSession, rows: int) -> None:
    session.conf.set(
        "spark.sql.shuffle.partitions", str(max(1, rows // ROWS_PER_PARTITION))
    )


def loop_session(spark: SparkSession) -> SparkSession:
    """A child of ``spark`` with AQE and auto-broadcast off; callers pin
    its width with :func:`pin_width`."""
    child = SparkSession(spark.sparkContext, spark._jsparkSession.cloneSession())
    child.conf.set("spark.sql.adaptive.enabled", "false")
    child.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    return child


def fixpoint(
    seed: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    measure: Sequence[Column] = (),
) -> tuple[DataFrame, int]:
    """Iterate ``step`` from ``seed`` until the signature ``(count,
    *measure)`` repeats; return the final state on the seed's session
    and the number of rounds. Raises after ``MAX_ROUNDS`` rounds."""
    spark = seed.sparkSession
    child = loop_session(spark)

    def measured(df: DataFrame) -> tuple[DataFrame, tuple]:
        df = df.localCheckpoint(eager=False)
        return df, tuple(rebind(df, child).agg(F.count(F.lit(1)), *measure).first())

    # the seed's size is unknown until it is measured, so it is planned on
    # the caller's session, where AQE sizes its partitions
    state, sig = measured(seed)
    for rounds in range(1, MAX_ROUNDS + 1):
        pin_width(child, sig[0])
        prev = sig
        state, sig = measured(rebind(step(state), child))
        if sig == prev:
            return rebind(state, spark), rounds
    raise RuntimeError(f"fixpoint did not converge in {MAX_ROUNDS} rounds")
