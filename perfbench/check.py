"""Output checkers. Each recomputes what it can apart from the program,
in DuckDB or plain Python, from the generated inputs, and tests the
properties the method must have. `check(workload, run_dir, details)`
returns a list of failures; empty means correct.
"""
import os

import duckdb

TOL = 2e-6  # outputs are rounded to 6 decimals


def _fusion_sql(rule, dev, amount, big, mr):
    """Gateway fusion (api/app.py:181-193) as SQL over named columns:
    (aggregated, |base - 0.4|) so callers can skip rows on a boundary."""
    base = f"(0.45*{rule} + 0.4*({mr}) + 0.15*least(greatest({dev}/2.0, 0.0), 1.0))"
    over = f"(CASE WHEN {rule} >= 0.6 AND {base} < 0.4 THEN 0.5 ELSE {base} END)"
    agg = f"(CASE WHEN {amount} >= {big} THEN greatest({over}, 0.85) ELSE {over} END)"
    return agg, f"abs({base} - 0.4)"


def _risk_sql(agg):
    return f"(CASE WHEN {agg} >= 0.7 THEN 'High' WHEN {agg} >= 0.4 THEN 'Medium' ELSE 'Low' END)"


def _near_threshold(agg):
    return f"(abs({agg} - 0.7) < 1e-5 OR abs({agg} - 0.4) < 1e-5)"


def _one(con, sql):
    return con.execute(sql).fetchone()[0]


def _check_model_fusion(con, errs, scored, events, big):
    """aggregated_score and risk_level recomputed from the output's own
    model-score columns; every score in [0, 1]."""
    mr = "0.4*s.anomaly_score_iforest + 0.3*s.anomaly_score_lof + 0.3*s.anomaly_score_ae"
    agg, base_gap = _fusion_sql("s.rule_score", "s.deviation_score", "e.value", big, mr)
    bad = _one(con, f"""SELECT count(*) FROM {scored} s JOIN {events} e
        ON s.transaction_id = e.event_id
        WHERE {base_gap} > 1e-5 AND (abs(s.aggregated_score - {agg}) > {TOL}
           OR (NOT {_near_threshold(agg)} AND s.risk_level <> {_risk_sql(agg)}))""")
    if bad:
        errs.append(f"{bad} rows whose aggregated_score/risk_level differ from the fusion")
    out = _one(con, f"""SELECT count(*) FROM {scored} WHERE NOT (
        anomaly_score_iforest BETWEEN 0 AND 1 AND anomaly_score_lof BETWEEN 0 AND 1
        AND anomaly_score_ae BETWEEN 0 AND 1 AND rule_score BETWEEN 0 AND 1
        AND aggregated_score BETWEEN 0 AND 1)""")
    if out:
        errs.append(f"{out} rows with a score outside [0, 1]")


def train_score_batch(con, wd, details):
    errs = []
    con.execute(f"CREATE VIEW ev AS SELECT * FROM read_parquet('{wd}/in/events.parquet')")
    con.execute(f"CREATE VIEW sc AS SELECT * FROM read_parquet('{wd}/out/scored/*.parquet')")
    n_in = _one(con, "SELECT count(DISTINCT event_id) FROM ev")
    n_out, n_ids = con.execute("SELECT count(*), count(DISTINCT transaction_id) FROM sc").fetchone()
    joined = _one(con, "SELECT count(*) FROM sc JOIN ev ON sc.transaction_id = ev.event_id")
    if not (n_out == n_ids == n_in == joined):
        errs.append(f"rows out {n_out}, distinct ids out {n_ids}, ids in {n_in}, matched {joined}")
    # rules and deviation from the raw input (api/app.py:167-179, :243),
    # with the events binding's thresholds (Ensemble.Config defaults)
    bad = _one(con, """WITH prof AS (SELECT user_id, avg(value) AS a FROM ev GROUP BY 1),
        e AS (SELECT event_id,
          least(1.0, (CASE WHEN value > 100 THEN 0.6 ELSE 0.0 END)
            + (CASE WHEN lower(event_type) = 'purchase'
                     AND CAST(json_extract_string(props, '$.k') AS INT) > 80 THEN 0.3 ELSE 0.0 END)
            + (CASE WHEN hour(ts) < 5 THEN 0.2 ELSE 0.0 END)) AS rule,
          CASE WHEN a > 0 THEN (value - a) / (a + 1e-9) ELSE 0.0 END AS dev
          FROM ev JOIN prof USING (user_id))
        SELECT count(*) FROM sc JOIN e ON sc.transaction_id = e.event_id
        WHERE abs(sc.rule_score - e.rule) > 2e-6 OR abs(sc.deviation_score - e.dev) > 2e-6""")
    if bad:
        errs.append(f"{bad} rows whose rule_score/deviation_score differ from the input")
    _check_model_fusion(con, errs, "sc", "ev", 250.0)
    # iForest: decision < 0 <=> score > 1/(1+e); offset is the 1% quantile
    if_share = _one(con, "SELECT avg(CASE WHEN anomaly_score_iforest > 1/(1+exp(1)) THEN 1.0 ELSE 0.0 END) FROM sc")
    if not 0.005 <= if_share <= 0.02:
        errs.append(f"share of iForest outliers {if_share:.4f}, expected near contamination 0.01")
    # AE: clipped at the P97.5 of the 20% validation split, so at least the
    # validation rows above it (0.5% of all rows) score 1.0; the PCA is fitted
    # on the other 80%, whose errors run lower, so the share stays near or
    # below 2.5%
    ae_share = _one(con, "SELECT avg(CASE WHEN anomaly_score_ae >= 1.0 THEN 1.0 ELSE 0.0 END) FROM sc")
    if not 0.004 <= ae_share <= 0.04:
        errs.append(f"share of AE scores at 1.0 is {ae_share:.4f}, expected 0.005 to 0.025")
    return errs


def serve_stream(con, wd, details):
    errs = []
    sent = int(details["sent_count"])
    con.execute(f"""CREATE VIEW ev AS
        SELECT * FROM read_parquet('{wd}/in/warmup/events.parquet')
        UNION ALL SELECT * FROM read_parquet('{wd}/in/stream/events.parquet') WHERE seq < {sent}""")
    con.execute(f"""CREATE VIEW st AS SELECT * FROM
        read_parquet('{wd}/out/stream/*/*.parquet', hive_partitioning = false)""")
    con.execute(f"CREATE VIEW ref AS SELECT * FROM read_parquet('{wd}/out/batch_ref/*.parquet')")
    con.execute("CREATE VIEW evd AS SELECT DISTINCT event_id, value FROM ev")
    n_ids = _one(con, "SELECT count(*) FROM evd")
    n_out, n_out_ids = con.execute("SELECT count(*), count(DISTINCT transaction_id) FROM st").fetchone()
    matched = _one(con, "SELECT count(*) FROM st JOIN evd ON st.transaction_id = evd.event_id")
    if not (n_out == n_out_ids == n_ids == matched):
        errs.append(f"stream wrote {n_out} rows, {n_out_ids} distinct ids, for {n_ids} "
                    f"distinct ids sent ({matched} matched): each must be written once")
    n_dups = _one(con, f"SELECT count(*) FROM read_parquet('{wd}/in/stream/events.parquet') "
                       f"WHERE seq < {sent} AND is_dup")
    if n_dups == 0:
        errs.append("no re-sent events in the run: the dedup state did no work")
    cols = ["anomaly_score_iforest", "anomaly_score_lof", "anomaly_score_ae", "deviation_score",
            "rule_score", "aggregated_score"]
    diff = " OR ".join(f"abs(st.{c} - ref.{c}) > 1e-9" for c in cols)
    bad = _one(con, f"""SELECT count(*) FROM st FULL JOIN ref USING (transaction_id)
        WHERE st.transaction_id IS NULL OR ref.transaction_id IS NULL OR {diff}
           OR st.risk_level <> ref.risk_level""")
    if bad:
        errs.append(f"{bad} streamed rows differ from Ensemble.scoreBatch on the same events")
    _check_model_fusion(con, errs, "st", "evd", 250.0)
    return errs


def gateway_csv(con, wd, details):
    errs = []
    con.execute(f"""CREATE VIEW tx AS SELECT * FROM read_csv('{wd}/in/transactions.csv',
        header = true, all_varchar = true)""")
    con.execute(f"CREATE VIEW sc AS SELECT * FROM read_parquet('{wd}/out/scored/*.parquet')")
    # the reference's shipped thresholds (api/app.py:29,167-193), model risk 0
    agg, base_gap = _fusion_sql("rule", "dev", "amount", 10000.0, "0.0")
    con.execute(f"""CREATE TABLE exp AS
        WITH t AS (SELECT transaction_id, CAST(amount AS DOUBLE) AS amount, customer_id,
                          lower(channel) AS ch, lower(location) AS loc,
                          CAST(substr("timestamp", 12, 2) AS INT) AS hr FROM tx),
        prof AS (SELECT customer_id, avg(amount) AS a FROM t GROUP BY 1),
        r AS (SELECT transaction_id, amount,
          least(1.0, (CASE WHEN amount > 1000 THEN 0.6 ELSE 0.0 END)
            + (CASE WHEN ch = 'card' AND loc NOT IN ('harare', 'bulawayo') THEN 0.3 ELSE 0.0 END)
            + (CASE WHEN hr < 5 THEN 0.2 ELSE 0.0 END)) AS rule,
          CASE WHEN a > 0 THEN (amount - a) / (a + 1e-9) ELSE 0.0 END AS dev
          FROM t JOIN prof USING (customer_id))
        SELECT transaction_id, amount, rule, dev, {agg} AS agg, {base_gap} AS gap FROM r""")
    n_in = _one(con, "SELECT count(*) FROM exp")
    n_out = _one(con, "SELECT count(*) FROM sc")
    keys = _one(con, "SELECT count(*) FROM (SELECT DISTINCT transaction_id, amount FROM exp)")
    if n_out != n_in or keys != n_in:
        errs.append(f"rows out {n_out} for {n_in} rows in ({keys} distinct (id, amount) keys)")
    bad = _one(con, f"""SELECT count(*) FROM exp FULL JOIN sc
        ON exp.transaction_id = sc.transaction_id AND exp.amount = sc.amount
        WHERE exp.transaction_id IS NULL OR sc.transaction_id IS NULL
           OR abs(sc.rule_score - exp.rule) > {TOL} OR abs(sc.deviation_score - exp.dev) > {TOL}
           OR (exp.gap > 1e-5 AND (abs(sc.aggregated_score - exp.agg) > {TOL}
               OR (NOT {_near_threshold('exp.agg')} AND sc.risk_level <> {_risk_sql('exp.agg')})))""")
    if bad:
        errs.append(f"{bad} rows whose rules/deviation/fusion/risk differ from the CSV")
    high = _one(con, "SELECT count(*) FROM sc WHERE amount >= 10000 AND risk_level <> 'High'")
    if high:
        errs.append(f"{high} rows with amount >= 10,000 not rated High")
    if _one(con, "SELECT count(*) FROM sc WHERE amount >= 10000") == 0:
        errs.append("no injected amount >= 10,000 in the input")
    return errs


def corpus_dedup(con, wd, details):
    errs = []
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{wd}/in/documents.parquet')")
    with open(os.path.join(wd, "oracle.sql")) as f:
        oracle = f.read()
    exp = con.execute(f"SELECT doc_id, source, lang, n_chars FROM ({oracle}) ORDER BY doc_id").fetchall()
    got = con.execute(f"""SELECT doc_id, source, lang, n_chars FROM
        read_parquet('{wd}/out/deduped/*.parquet') ORDER BY doc_id""").fetchall()
    if exp != got:
        errs.append(f"deduplicated corpus ({len(got)} docs) differs from the q_corpus_dedup "
                    f"oracle in DuckDB ({len(exp)} docs)")
    bad = _one(con, f"""SELECT count(*) FROM (
        SELECT p.exact_cluster, count(o.doc_id) AS kept
        FROM read_parquet('{wd}/in/planted.parquet') p
        LEFT JOIN read_parquet('{wd}/out/deduped/*.parquet') o USING (doc_id)
        WHERE p.exact_cluster >= 0 GROUP BY 1) WHERE kept <> 1""")
    if bad:
        errs.append(f"{bad} planted exact-copy clusters do not keep exactly one member")
    total = len(exp)
    if total == _one(con, "SELECT count(*) FROM documents"):
        errs.append("nothing was removed")
    return errs


def check(workload, wd, details):
    con = duckdb.connect()
    con.execute("SET threads = 2")
    try:
        return globals()[workload](con, wd, details)
    finally:
        con.close()
