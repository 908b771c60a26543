"""Fixture contract the cross-engine oracles rely on.

The q_llm_fingerprint oracle (queries/llm.py) folds over
``string_split_regex(text, '\\s+')`` in DuckDB while Spark folds over
``split(text, '\\s+')`` — RE2's ``\\s`` excludes ``\\x0b`` (vertical tab)
while Java's includes it, so the two folds only agree when document text
contains no exotic whitespace. Similarly the NULL-passthrough guard in
the oracle is only exercised if text can be NULL. These assertions pin
the fixture properties those oracles assume; if a future fixture
generator emits NULL or \\x0b-bearing text, this fails BEFORE a
confusing differential hash mismatch does (r11 advisor finding).

The oracles also rely on the session reading that data the same way
(UTC time zone, nanos-as-long timestamps): the driver contract must put
the engine's SQL confs on whatever session it is handed.
"""

from __future__ import annotations


def test_documents_text_is_plain_single_space_ascii(duck):
    n_null, n_odd_ws = duck.execute(
        r"""
        SELECT
          SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END),
          SUM(CASE WHEN regexp_matches(text, '[\t\n\r\f\x0b]') THEN 1 ELSE 0 END)
        FROM documents
        """
    ).fetchone()
    assert (n_null or 0) == 0, "fingerprint oracle NULL guard is now load-bearing"
    assert (n_odd_ws or 0) == 0, (
        "documents.text carries non-space whitespace: RE2 vs Java \\s split "
        "semantics diverge on \\x0b — normalize the generator or the oracles"
    )


def test_driver_contract_applies_the_engine_session_confs(spark):
    """A wrapped contract query leaves a vanilla session with every conf of
    SESSION_SQL_CONFS as ``get_spark`` sets it, and with
    requireAllClusterKeysForCoPartition at its default (session.py)."""
    import __spark_entry__ as contract
    from fineventstream_spark.session import SESSION_SQL_CONFS

    vanilla = spark.newSession()
    for key, _ in SESSION_SQL_CONFS:
        vanilla.conf.unset(key)
    contract._wrap(lambda s, sf_dir: None)(vanilla, "unused")
    for key, value in SESSION_SQL_CONFS:
        assert spark.conf.get(key) == value, key
        assert vanilla.conf.get(key) == value, key
    assert vanilla.conf.get("spark.sql.requireAllClusterKeysForCoPartition") == "true"
