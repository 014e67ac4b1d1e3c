"""Correctness gates, run outside the timed region. Each returns the
set of urls whose output is wrong; the benchmark's ``failed_share``
is its size over the urls attempted.

The extraction gate checks the serving view (latest snapshot per url)
against the generator's ground truth, not ``run_pipeline``'s
``ok_written`` count, which treats rescued ``ok_heuristic`` pages as
failures. The corpus gate compares the Spark verdict with the
repository's independent DuckDB twin of ``clean_corpus``.
"""

from __future__ import annotations

import pandas as pd


def latest_per_url(df: pd.DataFrame) -> pd.DataFrame:
    """The newest ``warc_ts`` row per url (the serving view)."""
    return (df.sort_values(["url", "warc_ts"], ascending=[True, False])
            .drop_duplicates("url", keep="first"))


def extraction_failures(truth: pd.DataFrame, out: pd.DataFrame) -> set[str]:
    """``truth`` holds the generator rows ``(url, warc_ts, text)``;
    ``out`` the extracted rows ``(url, warc_ts, status, text)``, one or
    more snapshots per url. A page whose truth text is non-empty is
    well-formed and must come out ``status == "ok"`` with byte-identical
    text from its latest snapshot. An alien or malformed page (empty
    truth text) must not come out ``"ok"``. A url missing from the
    output fails."""
    t = latest_per_url(truth[["url", "warc_ts", "text"]])
    o = latest_per_url(out[["url", "warc_ts", "status", "text"]])
    m = t.merge(o, on="url", how="left", suffixes=("", "_out"),
                indicator=True)
    missing = m["_merge"] != "both"
    wellformed = m["text"] != ""
    is_ok = m["status"] == "ok"
    # compare as UTF-8 bytes: the contract is byte identity
    same_text = [a is not None and not pd.isna(a)
                 and a.encode("utf-8") == b.encode("utf-8")
                 for a, b in zip(m["text_out"], m["text"])]
    same_snapshot = m["warc_ts_out"] == m["warc_ts"]
    good = ~missing & same_snapshot & (
        (wellformed & is_ok & pd.Series(same_text, index=m.index))
        | (~wellformed & ~is_ok))
    return set(m.loc[~good, "url"])


def verdict_failures(spark_verdict: pd.DataFrame,
                     docs: pd.DataFrame) -> set[str]:
    """Urls whose ``(keep, reason)`` from ``clean_corpus`` differs from
    the DuckDB twin run on the same extracted ``docs`` (url, text), or
    that only one side has."""
    import duckdb

    from __spark_entry__ import _clean_verdict_sql

    con = duckdb.connect()
    try:
        con.register("docs", docs[["url", "text"]])
        twin = con.execute(_clean_verdict_sql(
            "(SELECT url AS doc_id, text FROM docs)", 0.25)).df()
    finally:
        con.close()
    twin = twin.rename(columns={"doc_id": "url"})
    m = spark_verdict[["url", "keep", "reason"]].merge(
        twin, on="url", how="outer", suffixes=("", "_twin"),
        indicator=True)
    bad = ((m["_merge"] != "both")
           | (m["keep"] != m["keep_twin"])
           | (m["reason"] != m["reason_twin"]))
    return set(m.loc[bad, "url"])
