"""Driver-contract query registry.

Each entry maps a SURVEY.md §2 operator onto the driver's parquet tables
(region nation customer supplier part orders lineitem events documents
embeddings) as a (spark_query, duckdb_oracle_sql) pair. The driver runs
both at sf0.01 and compares row count + schema + order-insensitive value
hash, so every computed column is aliased identically on both sides and
floating-point outputs are rounded.

Queries without a SQL-expressible oracle (UDF-heavy extraction paths)
are registered in CONTRACT_QUERIES only → driver records a rows-only
check.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from kbspark.corpus import scan

CONTRACT_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
CONTRACT_ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | None = None):
    def deco(fn):
        if name in CONTRACT_QUERIES:
            # silent overwrite would shrink the pinned 50-entry surface
            # with no signal (round-4 review) — fail at import time
            raise ValueError(f"duplicate contract entry name: {name}")

        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            from kbspark.session import pin_session_conf, release_tracked

            # the PREVIOUS query's action has finished by the time the
            # next contract query starts — drop its operator-level
            # persists so ~50 queries in one session don't accumulate
            # cached partitions (ADVICE r02); everything is
            # deterministic, so a late consumer just recomputes
            release_tracked()
            pin_session_conf(spark)
            _load_views(spark, sf_dir)
            return fn(spark, sf_dir)

        CONTRACT_QUERIES[name] = wrapped
        if oracle is not None:
            CONTRACT_ORACLES[name] = oracle
        return fn

    return deco


#: THE driver table list — scripts (check_contract, type_audit) import
#: this instead of keeping their own copies (round-4 review: it was
#: triplicated and drift would surface as spurious CatalogExceptions).
_TABLES = (
    "region nation customer supplier part orders lineitem events documents "
    "embeddings"
).split()

#: applicationId -> (sf_dir, {table: analyzed-plan fingerprint}). Views
#: are (re)registered only when the target dir changes — re-reading 10
#: parquet schemas before every one of ~50 contract queries charged the
#: metadata reads to whatever query ran next (round-4 review). The plan
#: fingerprints close the memo's blind spot (ADVICE r04): out-of-band
#: createOrReplaceTempView('documents', ...) or dropTempView is detected
#: per query (analyzing a registered view is driver-side catalyst work
#: on the cached relation — no parquet re-read) and triggers
#: re-registration instead of silently reading the wrong data.
_VIEWS_AT: dict[str, tuple[str, dict[str, str]]] = {}


def invalidate_views(spark: SparkSession) -> None:
    """Drop the view memo for this Spark app so the next contract query
    re-registers all ten views. The memo self-heals via plan
    fingerprints (see ``_VIEWS_AT``); this hook remains for callers that
    want the re-registration charged to a known point instead of the
    next query."""
    _VIEWS_AT.pop(spark.sparkContext.applicationId, None)


def _plan_fingerprint(spark: SparkSession, table: str) -> str:
    """Stable identity of the registered temp view's plan. The session
    catalog's getTempView is a map lookup on the already-stored plan
    object (~2ms via py4j) — ~6x cheaper than spark.table(), which
    builds and re-analyzes a new Dataset; the memo check runs before
    every timed contract query, so this is on the measured path."""
    try:
        opt = spark._jsparkSession.sessionState().catalog().getTempView(table)
        if not opt.isDefined():
            raise KeyError(table)
        return opt.get().toString()
    except KeyError:
        raise
    except Exception:  # internal API moved — fall back to the public path
        return spark.table(table)._jdf.queryExecution().analyzed().toString()


def _load_views(spark: SparkSession, sf_dir: str) -> None:
    app = spark.sparkContext.applicationId
    memo = _VIEWS_AT.get(app)
    if memo is not None and memo[0] == sf_dir:
        if memo[1] is None:
            # fingerprinting unavailable on this runtime (see below):
            # memo on (app, sf_dir) alone — the pre-round-5 behavior
            return
        try:
            if all(
                _plan_fingerprint(spark, t) == memo[1][t] for t in _TABLES
            ):
                return
        except Exception:
            pass  # dropped/broken view -> fall through and re-register
    for t in _TABLES:
        scan(spark, sf_dir, t).createOrReplaceTempView(t)
    try:
        fps = {t: _plan_fingerprint(spark, t) for t in _TABLES}
    except Exception:
        # both fingerprint paths need classic-Spark internals (_jdf /
        # _jsparkSession); on a runtime without them (e.g. Connect)
        # registration must still succeed and the memo must still
        # short-circuit — warn ONCE and degrade to the sf_dir-only memo
        # instead of crashing every query or silently re-reading 10
        # parquet schemas per query (round-5 review)
        import warnings

        warnings.warn(
            "contract view fingerprinting unavailable — out-of-band "
            "view replacement will not be auto-detected this session",
            stacklevel=2,
        )
        fps = None
    _VIEWS_AT[app] = (sf_dir, fps)


# Import side-effect registration of all query groups. queries_graph
# registers FIRST: the driver records entries in dict order under a time
# budget, and the kg_*/graph entries were the ones dropped in round 1 —
# they must land in the CORRECTNESS file even if the tail gets cut.
from kbspark import queries_graph  # noqa: E402,F401
from kbspark import queries_text  # noqa: E402,F401
from kbspark import queries_relational  # noqa: E402,F401
