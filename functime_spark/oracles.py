"""DuckDB oracle SQL for the driver's correctness gate.

Each SQL string recomputes the same feature/operator as the Spark
query it is paired with in ``__spark_entry__``, over the
pre-registered DuckDB views (events, lineitem, documents, ...).
Floats are rounded to 6 decimals on BOTH sides so engine-order
summation differences can't flip the value hash.

The panel used by feature oracles: events with entity=user_id,
time=ts, x=value.
"""

from __future__ import annotations

import math

ROUND = 6

# Shared CTE: per-row panel with window helpers. Kept minimal per
# query (DuckDB evaluates only referenced columns anyway).
_P = "SELECT user_id AS e, ts AS t, value AS x FROM events"
_W = "WINDOW w AS (PARTITION BY user_id ORDER BY ts)"


def _agg(expr: str, name: str, extra_cte: str = "", src: str = "p") -> str:
    return (
        f"WITH p AS ({_P}){extra_cte} "
        f"SELECT e AS user_id, {expr} AS {name} FROM {src} GROUP BY e ORDER BY user_id"
    )


def _r(expr: str) -> str:
    # +1e-9 nudges exact half-boundaries (common with 2-decimal input
    # data) off the tie so Spark HALF_UP and DuckDB rounding agree
    return f"ROUND(CAST({expr} AS DOUBLE) + 1e-9, {ROUND})"


def _r3(expr: str) -> str:
    # 3-decimal variant for ~1e8 money sums whose engine-dependent
    # summation order makes 6 decimals pure accumulation noise
    return f"ROUND(CAST({expr} AS DOUBLE) + 1e-9, 3)"


def _ar_gauss_ctes(lags: int, fh: int) -> list:
    """CTE chain replaying the pooled AR(lags)+intercept OLS fit and
    fh-step recursive forecast of the linear forecaster in pure SQL.

    Expects a prior CTE named `panel` with columns (e, t, y). The
    (lags+1)x(lags+1) normal-equation system is SPD, so pivotless
    Gaussian elimination (forward sweep, frozen pivot rows, back-
    substitution) is numerically stable; each elimination step is a
    generated single-row CTE. Emits coefficients x0..x{lags-1}
    (x_i multiplies lag_{i+1}, most recent first — matching
    linear_model._make_step in the shared predict_ar kernel) and
    intercept x{lags}, per-entity tails q1..q{lags} + cutoff `low` in
    `qv`, and chained predictions p1..p{fh} with the final CTE named
    p{fh}."""
    m = lags + 1

    def col(i):
        return f"l{i + 1}" if i < lags else None

    aggs = []
    for i in range(m):
        for j in range(i, m):
            ci, cj = col(i), col(j)
            if ci is None and cj is None:
                aggs.append(f"CAST(count(*) AS DOUBLE) AS a0_{i}_{j}")
            elif cj is None:
                aggs.append(f"sum({ci}) AS a0_{i}_{j}")
            else:
                aggs.append(f"sum({ci}*{cj}) AS a0_{i}_{j}")
        aggs.append((f"sum({col(i)}*y)" if col(i) else "sum(y)") + f" AS b0_{i}")
    ctes = [
        "t0 AS (SELECT e, y, "
        + ", ".join(f"lag(y, {k}) OVER wv AS l{k}" for k in range(1, m))
        + ", row_number() OVER wv - 1 AS i FROM panel "
        "WINDOW wv AS (PARTITION BY e ORDER BY t))",
        f"tr AS (SELECT * FROM t0 WHERE i >= {lags})",
        "e0 AS (SELECT " + ", ".join(aggs) + " FROM tr)",
    ]
    # forward elimination: trailing submatrix stays symmetric (store
    # upper triangle only; a[i][k] == a[k][i])
    for k in range(m - 1):
        upd = []
        for i in range(k + 1, m):
            for j in range(i, m):
                upd.append(
                    f"a{k}_{i}_{j} - a{k}_{k}_{i} * a{k}_{k}_{j} / a{k}_{k}_{k} "
                    f"AS a{k + 1}_{i}_{j}"
                )
            upd.append(
                f"b{k}_{i} - a{k}_{k}_{i} * b{k}_{k} / a{k}_{k}_{k} AS b{k + 1}_{i}"
            )
        ctes.append(f"e{k + 1} AS (SELECT *, " + ", ".join(upd) + f" FROM e{k})")
    last = m - 1
    ctes.append(
        f"s{last} AS (SELECT *, b{last}_{last} / a{last}_{last}_{last} "
        f"AS x{last} FROM e{last})"
    )
    for i in range(m - 2, -1, -1):
        terms = " - ".join(
            [f"b{i}_{i}"] + [f"a{i}_{i}_{j} * x{j}" for j in range(i + 1, m)]
        )
        ctes.append(
            f"s{i} AS (SELECT *, ({terms}) / a{i}_{i}_{i} AS x{i} FROM s{i + 1})"
        )
    ctes.append(
        "qv AS (SELECT e, MAX(t) AS low, "
        + ", ".join(
            f"list(y ORDER BY t DESC)[{j}] AS q{j}" for j in range(1, m)
        )
        + " FROM panel GROUP BY e)"
    )

    def pred(buf):
        return f"x{lags} + " + " + ".join(f"x{i} * {buf[i]}" for i in range(lags))

    buf = [f"q{j}" for j in range(1, m)]
    ctes.append(f"p1 AS (SELECT qv.*, s0.*, {pred(buf)} AS p1 FROM qv, s0)")
    for h in range(2, fh + 1):
        buf = [f"p{h - 1}"] + buf[:-1]
        ctes.append(f"p{h} AS (SELECT *, {pred(buf)} AS p{h} FROM p{h - 1})")
    return ctes


def _ar_exog_sin_ctes(lags: int, fh: int) -> list:
    """CTE chain replaying the AR(lags) + sin/cos-hour EXOGENOUS OLS
    fit and fh-step recursion — design columns l1..lL, sx, cx,
    intercept, with the future exogenous values recomputed from the
    per-entity cutoff (`low + h hours`), exactly what
    attach_future_x + predict_ar (linear step) do with X_future.
    Expects a prior CTE `panel` (e, t, y); final CTE is p{fh}."""
    m = lags + 3
    names = [f"l{k}" for k in range(1, lags + 1)] + ["sx", "cx", None]

    def col(i):
        return names[i]

    def trig(fn, expr):
        return f"{fn}(2*pi()*EXTRACT(hour FROM {expr})/24.0)"

    aggs = []
    for i in range(m):
        for j in range(i, m):
            ci, cj = col(i), col(j)
            if ci is None and cj is None:
                aggs.append(f"CAST(count(*) AS DOUBLE) AS a0_{i}_{j}")
            elif cj is None:
                aggs.append(f"sum({ci}) AS a0_{i}_{j}")
            else:
                aggs.append(f"sum({ci}*{cj}) AS a0_{i}_{j}")
        aggs.append((f"sum({col(i)}*y)" if col(i) else "sum(y)") + f" AS b0_{i}")
    ctes = [
        "t0 AS (SELECT e, t, y, "
        + ", ".join(f"lag(y, {k}) OVER wv AS l{k}" for k in range(1, lags + 1))
        + f", {trig('sin', 't')} AS sx, {trig('cos', 't')} AS cx"
        + ", row_number() OVER wv - 1 AS i FROM panel "
        "WINDOW wv AS (PARTITION BY e ORDER BY t))",
        f"tr AS (SELECT * FROM t0 WHERE i >= {lags})",
        "e0 AS (SELECT " + ", ".join(aggs) + " FROM tr)",
    ]
    for k in range(m - 1):
        upd = []
        for i in range(k + 1, m):
            for j in range(i, m):
                upd.append(
                    f"a{k}_{i}_{j} - a{k}_{k}_{i} * a{k}_{k}_{j} / a{k}_{k}_{k} "
                    f"AS a{k + 1}_{i}_{j}"
                )
            upd.append(
                f"b{k}_{i} - a{k}_{k}_{i} * b{k}_{k} / a{k}_{k}_{k} AS b{k + 1}_{i}"
            )
        ctes.append(f"e{k + 1} AS (SELECT *, " + ", ".join(upd) + f" FROM e{k})")
    last = m - 1
    ctes.append(
        f"s{last} AS (SELECT *, b{last}_{last} / a{last}_{last}_{last} "
        f"AS x{last} FROM e{last})"
    )
    for i in range(m - 2, -1, -1):
        terms = " - ".join(
            [f"b{i}_{i}"] + [f"a{i}_{i}_{j} * x{j}" for j in range(i + 1, m)]
        )
        ctes.append(
            f"s{i} AS (SELECT *, ({terms}) / a{i}_{i}_{i} AS x{i} FROM s{i + 1})"
        )
    ctes.append(
        "qv AS (SELECT e, MAX(t) AS low, "
        + ", ".join(
            f"list(y ORDER BY t DESC)[{j}] AS q{j}" for j in range(1, lags + 1)
        )
        + " FROM panel GROUP BY e)"
    )

    def pred(buf, h):
        fut = f"low + {h} * INTERVAL '1 hour'"
        terms = [f"x{i} * {buf[i]}" for i in range(lags)]
        terms.append(f"x{lags} * {trig('sin', fut)}")
        terms.append(f"x{lags + 1} * {trig('cos', fut)}")
        return f"x{m - 1} + " + " + ".join(terms)

    buf = [f"q{j}" for j in range(1, lags + 1)]
    ctes.append(f"p1 AS (SELECT qv.*, s0.*, {pred(buf, 1)} AS p1 FROM qv, s0)")
    for h in range(2, fh + 1):
        buf = [f"p{h - 1}"] + buf[:-1]
        ctes.append(f"p{h} AS (SELECT *, {pred(buf, h)} AS p{h} FROM p{h - 1})")
    return ctes


def _friedrich_oracle_sql(deg: int = 3, n_quantiles: int = 30) -> str:
    """Replay features_udf.friedrich_coefficients in SQL: quantile-bin
    drift vs signal, z-scored cubic least squares per entity (pivotless
    elimination on the SPD normal equations — the kernel runs the same
    schedule), binomial back-transform to raw-x coefficients."""
    import math

    n = deg + 1
    qs = ", ".join(f"{k}/{n_quantiles}.0" for k in range(1, n_quantiles))
    aggs = []
    for i in range(n):
        for j in range(i, n):
            p = i + j
            aggs.append(
                f"sum(z{p}) AS a0_{i}_{j}" if p > 0 else f"CAST(count(*) AS DOUBLE) AS a0_{i}_{j}"
            )
        aggs.append(f"sum(ym * z{i}) AS b0_{i}" if i > 0 else "sum(ym) AS b0_0")
    zpow = ", ".join(
        "1.0 AS z0" if p == 0 else "z1 AS z1" if p == 1 else "*".join(["z1"] * p) + f" AS z{p}"
        for p in range(2 * deg + 1)
    )
    ctes = [
        "panel AS (SELECT user_id AS e, ts AS t, CAST(value AS DOUBLE) AS y FROM events)",
        "d AS (SELECT e, y AS sig, lead(y) OVER we - y AS delta, "
        "row_number() OVER we AS rn, count(*) OVER (PARTITION BY e) AS cnt "
        "FROM panel WINDOW we AS (PARTITION BY e ORDER BY t))",
        f"edges AS (SELECT e, quantile_cont(y, [{qs}]) AS ed, count(*) AS nn FROM panel GROUP BY e)",
        "binned AS (SELECT d.e AS e, length(list_filter(ed, v -> v < sig)) AS q, sig, delta "
        f"FROM d JOIN edges ON d.e = edges.e WHERE rn < cnt AND nn > {n_quantiles})",
        "bins AS (SELECT e, q, avg(sig) AS xm, avg(delta) AS ym FROM binned GROUP BY e, q)",
        "st AS (SELECT e, avg(xm) AS mu, stddev_pop(xm) AS sd FROM bins GROUP BY e)",
        "zz AS (SELECT b.e AS e, (xm - mu)/sd AS z1, ym FROM bins b JOIN st ON b.e = st.e)",
        f"zp AS (SELECT e, ym, {zpow} FROM zz)",
        "e0 AS (SELECT e, " + ", ".join(aggs) + " FROM zp GROUP BY e)",
    ]
    for k in range(n - 1):
        upd = []
        for i in range(k + 1, n):
            for j in range(i, n):
                upd.append(
                    f"a{k}_{i}_{j} - a{k}_{k}_{i} * a{k}_{k}_{j} / a{k}_{k}_{k} AS a{k + 1}_{i}_{j}"
                )
            upd.append(f"b{k}_{i} - a{k}_{k}_{i} * b{k}_{k} / a{k}_{k}_{k} AS b{k + 1}_{i}")
        ctes.append(f"e{k + 1} AS (SELECT *, " + ", ".join(upd) + f" FROM e{k})")
    ctes.append(
        f"s{n - 1} AS (SELECT *, b{n - 1}_{n - 1} / a{n - 1}_{n - 1}_{n - 1} AS x{n - 1} FROM e{n - 1})"
    )
    for i in range(n - 2, -1, -1):
        terms = " - ".join([f"b{i}_{i}"] + [f"a{i}_{i}_{j} * x{j}" for j in range(i + 1, n)])
        ctes.append(f"s{i} AS (SELECT *, ({terms}) / a{i}_{i}_{i} AS x{i} FROM s{i + 1})")
    cexprs = []
    for k in range(n):
        terms = [
            f"x{j} * {math.comb(j, k)} * power(-mu, {j - k}) / power(sd, {j})"
            for j in range(k, n)
        ]
        # + 0.0 collapses IEEE -0.0 (tiny negative c3 rounds to it)
        cexprs.append("(" + _r("(" + " + ".join(terms) + ")") + f" + 0.0) AS fr_c{k}")
    return (
        "WITH "
        + ", ".join(ctes)
        + " SELECT s0.e AS user_id, "
        + ", ".join(cexprs)
        + " FROM s0 JOIN st ON s0.e = st.e ORDER BY user_id"
    )


def _gauss_per_entity_ctes(lags: int) -> list:
    """PER-ENTITY AR(lags)+intercept OLS via the same generated
    pivotless Gaussian elimination as `_ar_gauss_ctes`, with `e` in
    every GROUP BY/row: one normal-equation system per entity, solved
    columnwise. Emits x0..x{lags-1} (lag coefs) and x{lags}
    (intercept) per entity in CTE `s0`. Replays
    features_udf.autoregressive_coefficients' np.linalg.lstsq (the
    SPD system agrees with SVD lstsq to ~1e-10 at panel scale)."""
    m = lags + 1

    def col(i):
        return f"l{i + 1}" if i < lags else None

    aggs = []
    for i in range(m):
        for j in range(i, m):
            ci, cj = col(i), col(j)
            if ci is None and cj is None:
                aggs.append(f"CAST(count(*) AS DOUBLE) AS a0_{i}_{j}")
            elif cj is None:
                aggs.append(f"sum({ci}) AS a0_{i}_{j}")
            else:
                aggs.append(f"sum({ci}*{cj}) AS a0_{i}_{j}")
        aggs.append((f"sum({col(i)}*y)" if col(i) else "sum(y)") + f" AS b0_{i}")
    ctes = [
        "t0 AS (SELECT user_id AS e, CAST(value AS DOUBLE) AS y, "
        + ", ".join(f"lag(value, {k}) OVER wv AS l{k}" for k in range(1, m))
        + ", row_number() OVER wv - 1 AS i FROM events "
        "WINDOW wv AS (PARTITION BY user_id ORDER BY ts))",
        f"e0 AS (SELECT e, " + ", ".join(aggs) + f" FROM t0 WHERE i >= {lags} GROUP BY e)",
    ]
    for k in range(m - 1):
        upd = []
        for i in range(k + 1, m):
            for j in range(i, m):
                upd.append(
                    f"a{k}_{i}_{j} - a{k}_{k}_{i} * a{k}_{k}_{j} / a{k}_{k}_{k} "
                    f"AS a{k + 1}_{i}_{j}"
                )
            upd.append(
                f"b{k}_{i} - a{k}_{k}_{i} * b{k}_{k} / a{k}_{k}_{k} AS b{k + 1}_{i}"
            )
        ctes.append(f"e{k + 1} AS (SELECT *, " + ", ".join(upd) + f" FROM e{k})")
    last = m - 1
    ctes.append(
        f"s{last} AS (SELECT *, b{last}_{last} / a{last}_{last}_{last} "
        f"AS x{last} FROM e{last})"
    )
    for i in range(m - 2, -1, -1):
        terms = " - ".join(
            [f"b{i}_{i}"] + [f"a{i}_{i}_{j} * x{j}" for j in range(i + 1, m)]
        )
        ctes.append(
            f"s{i} AS (SELECT *, ({terms}) / a{i}_{i}_{i} AS x{i} FROM s{i + 1})"
        )
    return ctes


def _direct_linear_ctes(L: int, H: int, pfx: str = "d") -> list:
    """Per-horizon pooled OLS of the DIRECT strategy (ref fit_direct
    _ar.py:53-80): model h trains on features lag_h..lag_{h+L-1}
    (rows i >= L+H-1) but predicts from the LAST L observed values
    (the direct-forecast time shift — predict_ar in direct mode applies
    model h's coefficients to lag_1..lag_L). Emits per-entity
    predictions in CTEs {pfx}p1..{pfx}pH."""
    m = L + 1
    maxlag = L + H - 1
    ctes = [
        f"{pfx}t0 AS (SELECT user_id AS e, ts AS t, CAST(value AS DOUBLE) AS y, "
        + ", ".join(f"lag(value, {k}) OVER wv AS l{k}" for k in range(1, maxlag + 1))
        + ", row_number() OVER wv - 1 AS i FROM events "
        "WINDOW wv AS (PARTITION BY user_id ORDER BY ts))",
        f"{pfx}tail AS (SELECT e, MAX(t) AS low, "
        + ", ".join(f"list(y ORDER BY t DESC)[{j}] AS q{j}" for j in range(1, L + 1))
        + f" FROM {pfx}t0 GROUP BY e)",
    ]
    for h in range(1, H + 1):
        P = f"{pfx}h{h}"

        def col(i):
            return f"l{h + i}" if i < L else None

        aggs = []
        for i in range(m):
            for j in range(i, m):
                ci, cj = col(i), col(j)
                if ci is None and cj is None:
                    aggs.append(f"CAST(count(*) AS DOUBLE) AS a0_{i}_{j}")
                elif cj is None:
                    aggs.append(f"sum({ci}) AS a0_{i}_{j}")
                else:
                    aggs.append(f"sum({ci}*{cj}) AS a0_{i}_{j}")
            aggs.append((f"sum({col(i)}*y)" if col(i) else "sum(y)") + f" AS b0_{i}")
        ctes.append(
            f"e0_{P} AS (SELECT " + ", ".join(aggs)
            + f" FROM {pfx}t0 WHERE i >= {maxlag})"
        )
        for k in range(m - 1):
            upd = []
            for i in range(k + 1, m):
                for j in range(i, m):
                    upd.append(
                        f"a{k}_{i}_{j} - a{k}_{k}_{i} * a{k}_{k}_{j} / a{k}_{k}_{k} "
                        f"AS a{k + 1}_{i}_{j}"
                    )
                upd.append(
                    f"b{k}_{i} - a{k}_{k}_{i} * b{k}_{k} / a{k}_{k}_{k} AS b{k + 1}_{i}"
                )
            ctes.append(
                f"e{k + 1}_{P} AS (SELECT *, " + ", ".join(upd) + f" FROM e{k}_{P})"
            )
        last = m - 1
        ctes.append(
            f"sx{last}_{P} AS (SELECT *, b{last}_{last} / a{last}_{last}_{last} "
            f"AS x{last} FROM e{last}_{P})"
        )
        for i in range(m - 2, -1, -1):
            terms = " - ".join(
                [f"b{i}_{i}"] + [f"a{i}_{i}_{j} * x{j}" for j in range(i + 1, m)]
            )
            ctes.append(
                f"sx{i}_{P} AS (SELECT *, ({terms}) / a{i}_{i}_{i} AS x{i} "
                f"FROM sx{i + 1}_{P})"
            )
        pred = f"x{L} + " + " + ".join(f"x{k} * q{k + 1}" for k in range(L))
        ctes.append(
            f"{pfx}p{h} AS (SELECT {pfx}tail.e, {pfx}tail.low, {pred} AS p "
            f"FROM {pfx}tail, sx0_{P})"
        )
    return ctes


def _unigram_dp_block(r: str, ptab: str, max_word_len: int, mpl: int) -> str:
    """One Viterbi-DP replay over the bounded word table for the
    unigram-LM oracle (prefix ``r`` distinguishes EM round 1, round 2
    and the final-tokenize pass): 1..max_word_len unrolled best-prefix
    CTEs (AS MATERIALIZED — chained references would otherwise inline
    exponentially), each taking the (score DESC, l ASC) row_number
    argmax over the <= mpl candidate pieces — EXACTLY the engine
    kernel's strict-> update scanning lengths ascending. Scores are
    probability PRODUCTS (b.score * p.p), the same left-to-right IEEE
    multiply sequence viterbi_pieces performs, so the comparison is
    bit-identical cross-engine (no libm log in either). The chosen-l
    table feeds a recursive backtrack walk from pos=length(word) down
    to 0 — pieces along the walk ARE the hard-EM path."""
    ctes = [
        f"b{r}_0 AS MATERIALIZED (SELECT word, CAST(1 AS DOUBLE) AS score "
        "FROM uwords)"
    ]
    for j in range(1, max_word_len + 1):
        arms = []
        for l in range(1, min(mpl, j) + 1):
            arms.append(
                f"SELECT w.word AS word, b.score * p.p AS score, {l} AS l "
                f"FROM uwords w JOIN b{r}_{j - l} b ON b.word = w.word "
                f"JOIN {ptab} p ON p.tok = substr(w.word, {j - l + 1}, {l}) "
                f"WHERE length(w.word) >= {j}"
            )
        ctes.append(
            f"ch{r}_{j} AS MATERIALIZED (SELECT word, score, l FROM "
            "(SELECT word, score, l, row_number() OVER "
            "(PARTITION BY word ORDER BY score DESC, l ASC) AS rn FROM ("
            + " UNION ALL ".join(arms)
            + ")) WHERE rn = 1)"
        )
        ctes.append(
            f"b{r}_{j} AS MATERIALIZED "
            f"(SELECT word, score FROM ch{r}_{j})"
        )
    chall = " UNION ALL ".join(
        f"SELECT word, {j} AS j, l FROM ch{r}_{j}"
        for j in range(1, max_word_len + 1)
    )
    ctes.append(f"chall{r} AS MATERIALIZED ({chall})")
    ctes.append(
        f"path{r} AS (SELECT word, length(word) AS pos FROM uwords "
        f"UNION ALL SELECT p.word, p.pos - c.l FROM path{r} p "
        f"JOIN chall{r} c ON c.word = p.word AND c.j = p.pos "
        "WHERE p.pos > 0)"
    )
    ctes.append(
        f"pieces{r} AS MATERIALIZED (SELECT p.word, "
        "substr(p.word, p.pos - c.l + 1, c.l) AS tok "
        f"FROM path{r} p JOIN chall{r} c "
        "ON c.word = p.word AND c.j = p.pos WHERE p.pos > 0)"
    )
    return ", ".join(ctes)


def _unigram_replay(
    max_words: int = 40,
    max_word_len: int = 8,
    mpl: int = 3,
    seed_size: int = 40,
    vocab_size: int = 32,
    alpha: str = "0.1",
) -> str:
    """Shared CTE chain for the two unigram-LM gates: bounded word
    table -> substring seed counts -> smoothed p0 -> 2 hard-EM rounds
    (DP + backtrack + ONE count aggregate + re-smooth, the exact
    fit_unigram recursion) -> single-chars-always prune to vocab_size
    -> final re-smooth on the kept set (pfin). Ends WITHOUT a
    trailing comma so callers append their own SELECT."""
    head = (
        "uraw AS (SELECT word, COUNT(*) AS cnt FROM (SELECT "
        "unnest(list_filter(regexp_split_to_array(text, '\\s+'), "
        "x -> x <> '')) AS word FROM documents) "
        f"WHERE length(word) <= {max_word_len} GROUP BY word), "
        "uwords AS MATERIALIZED (SELECT word, cnt FROM (SELECT word, cnt, "
        "row_number() OVER (ORDER BY cnt DESC, word) AS rn FROM uraw) "
        f"WHERE rn <= {max_words}), "
        "usubs AS (SELECT substr(w.word, CAST(s.i AS INT) + 1, "
        "CAST(l.l AS INT)) AS tok, SUM(w.cnt) AS c "
        f"FROM uwords w, range(0, {max_word_len}) s(i), "
        f"range(1, {mpl + 1}) l(l) "
        "WHERE s.i + l.l <= length(w.word) GROUP BY 1), "
        "uv0 AS MATERIALIZED (SELECT tok, c FROM usubs WHERE "
        "length(tok) = 1 UNION ALL SELECT tok, c FROM (SELECT tok, c, "
        "row_number() OVER (ORDER BY c DESC, tok) AS rn FROM usubs "
        f"WHERE length(tok) > 1) WHERE rn <= {seed_size}), "
        f"up0 AS MATERIALIZED (SELECT tok, (c + {alpha}) / "
        f"((SELECT SUM(c) FROM uv0) + {alpha} * "
        "(SELECT COUNT(*) FROM uv0)) AS p FROM uv0)"
    )
    rounds = []
    for r, ptab in (("1", "up0"), ("2", "up1")):
        rounds.append(_unigram_dp_block(r, ptab, max_word_len, mpl))
        rounds.append(
            f"uc{r} AS MATERIALIZED (SELECT pc.tok, SUM(w.cnt) AS c "
            f"FROM pieces{r} pc JOIN uwords w ON w.word = pc.word "
            "GROUP BY 1), "
            f"up{r} AS MATERIALIZED (SELECT v.tok, "
            f"(COALESCE(c.c, 0) + {alpha}) / "
            f"((SELECT COALESCE(SUM(c), 0) FROM uc{r}) + {alpha} * "
            "(SELECT COUNT(*) FROM uv0)) AS p "
            f"FROM uv0 v LEFT JOIN uc{r} c USING (tok))"
        )
    prune = (
        "ukept AS MATERIALIZED (SELECT tok FROM uv0 WHERE length(tok) = 1 "
        "UNION ALL SELECT tok FROM (SELECT v.tok, row_number() OVER "
        "(ORDER BY p.p DESC, v.tok) AS rn FROM uv0 v JOIN up2 p "
        "USING (tok) WHERE length(v.tok) > 1) WHERE rn <= "
        f"{vocab_size} - (SELECT COUNT(*) FROM uv0 WHERE "
        "length(tok) = 1)), "
        f"upfin AS MATERIALIZED (SELECT k.tok, (COALESCE(c.c, 0) + {alpha}) / "
        "((SELECT COALESCE(SUM(c2.c), 0) FROM ukept k2 "
        f"LEFT JOIN uc2 c2 USING (tok)) + {alpha} * "
        "(SELECT COUNT(*) FROM ukept)) AS p "
        "FROM ukept k LEFT JOIN uc2 c USING (tok))"
    )
    return head + ", " + ", ".join(rounds) + ", " + prune


def _auto_ses_replay(rnd) -> str:
    """The ENTIRE auto_ses grid search replayed (r11): for each alpha
    candidate {0.25, 0.5, 0.75} (dyadic — 1-a exact in both engines),
    two expanding-split pooled SES refits (cutoffs 5, 4 — the backtest
    defaults test_size=4, n_splits=2, step_size=1), flat 4-step
    predictions joined to the actual test rows, per-entity sum-ratio
    SMAPE over the stacked backtest rows, candidate score = AVG over
    entities; argmin (ties -> grid order) picks the winner, whose
    full-panel closed-form level is the flat forecast. Replays
    automl._auto_smoothing._search_grid + _cv_score end-to-end."""
    ALPHAS = [(0, "0.25", "0.75"), (1, "0.5", "0.5"), (2, "0.75", "0.25")]
    CUTS = {"s5": 5, "s4": 4, "s0": 0}
    ctes = [
        "t0 AS (SELECT user_id AS e, ts AS t, CAST(value AS DOUBLE) AS y, "
        "row_number() OVER wv - 1 AS i, "
        "COUNT(*) OVER (PARTITION BY user_id) AS n FROM events "
        "WINDOW wv AS (PARTITION BY user_id ORDER BY ts))",
        "lowt AS (SELECT e, MAX(t) AS low FROM t0 GROUP BY e)",
    ]
    for k, a, oma in ALPHAS:
        for sname, c in CUTS.items():
            ctes.append(
                f"l{k}_{sname} AS (SELECT e, SUM(CASE WHEN i = 0 THEN "
                f"pow({oma}, n - {c} - 1) "
                f"ELSE {a} * pow({oma}, n - {c} - 1 - i) END * y) AS l "
                f"FROM t0 WHERE i < n - {c} GROUP BY e)"
            )
        ctes.append(
            f"bt{k} AS ("
            f"SELECT t0.e, t0.y AS actual, l.l AS pred FROM t0 "
            f"JOIN l{k}_s5 l ON l.e = t0.e "
            f"AND t0.i >= t0.n - 5 AND t0.i < t0.n - 1 "
            f"UNION ALL "
            f"SELECT t0.e, t0.y, l.l FROM t0 "
            f"JOIN l{k}_s4 l ON l.e = t0.e AND t0.i >= t0.n - 4)"
        )
        ctes.append(
            f"sm{k} AS (SELECT e, SUM(ABS(pred - actual)) / "
            f"SUM(pred + actual) AS s FROM bt{k} GROUP BY e)"
        )
        ctes.append(
            f"sc{k} AS (SELECT {k} AS ord, AVG(s) AS score FROM sm{k})"
        )
    ctes.append(
        "win AS (SELECT ord FROM ("
        + " UNION ALL ".join(f"SELECT * FROM sc{k}" for k, _, _ in ALPHAS)
        + ") ORDER BY score ASC, ord ASC LIMIT 1)"
    )
    ctes.append(
        "fin AS (SELECT l0.e, CASE win.ord WHEN 0 THEN l0.l "
        "WHEN 1 THEN l1.l ELSE l2.l END AS l "
        "FROM l0_s0 l0 JOIN l1_s0 l1 ON l1.e = l0.e "
        "JOIN l2_s0 l2 ON l2.e = l0.e, win)"
    )
    return (
        "WITH " + ", ".join(ctes)
        + " SELECT f.e AS user_id, lowt.low + g.s * INTERVAL '1 hour' AS ts, "
        + rnd("f.l")
        + " AS value FROM fin f JOIN lowt ON lowt.e = f.e, "
        "generate_series(1, 4) AS g(s) ORDER BY user_id, ts"
    )


def _auto_linear_replay(rnd) -> str:
    """The ENTIRE auto_linear_model grid search replayed: for each lag
    candidate {3, 7, 12}, two expanding-split pooled refits (cutoffs
    5, 4 — the backtest defaults) via generated Gaussian elimination,
    4-step recursions from each split tail, per-entity sum-ratio SMAPE
    over the stacked backtest rows, candidate score = AVG over
    entities; argmin (ties → smaller lags) picks the winner, whose
    full-panel refit + recursion is emitted. Replays automl._auto_base
    ._fit + _cv_score end-to-end."""
    LAGS = [3, 7, 12]
    CUTS = {"s5": 5, "s4": 4, "s0": 0}
    ctes = []
    ctes.append(
        "t0 AS (SELECT user_id AS e, ts AS t, CAST(value AS DOUBLE) AS y, "
        + ", ".join(f"lag(value, {k}) OVER wv AS l{k}" for k in range(1, 13))
        + ", row_number() OVER wv - 1 AS i, "
        "COUNT(*) OVER (PARTITION BY user_id) AS n FROM events "
        "WINDOW wv AS (PARTITION BY user_id ORDER BY ts))"
    )
    for sname, c in CUTS.items():
        cols = ", ".join(
            f"MAX(CASE WHEN i = n - {c} - {j} THEN y END) AS q{j}"
            for j in range(1, 13)
        )
        extra = ", MAX(t) AS low" if c == 0 else ""
        ctes.append(f"tail_{sname} AS (SELECT e, {cols}{extra} FROM t0 GROUP BY e)")

    for L in LAGS:
        m = L + 1

        def col(i):
            return f"l{i + 1}" if i < L else None

        for sname, c in CUTS.items():
            P = f"c{L}{sname}"
            aggs = []
            for i in range(m):
                for j in range(i, m):
                    ci, cj = col(i), col(j)
                    if ci is None and cj is None:
                        aggs.append(f"CAST(count(*) AS DOUBLE) AS a0_{i}_{j}")
                    elif cj is None:
                        aggs.append(f"sum({ci}) AS a0_{i}_{j}")
                    else:
                        aggs.append(f"sum({ci}*{cj}) AS a0_{i}_{j}")
                aggs.append(
                    (f"sum({col(i)}*y)" if col(i) else "sum(y)") + f" AS b0_{i}"
                )
            ctes.append(
                f"e0_{P} AS (SELECT " + ", ".join(aggs)
                + f" FROM t0 WHERE i >= {L} AND i < n - {c})"
            )
            for k in range(m - 1):
                upd = []
                for i in range(k + 1, m):
                    for j in range(i, m):
                        upd.append(
                            f"a{k}_{i}_{j} - a{k}_{k}_{i} * a{k}_{k}_{j} / a{k}_{k}_{k} "
                            f"AS a{k + 1}_{i}_{j}"
                        )
                    upd.append(
                        f"b{k}_{i} - a{k}_{k}_{i} * b{k}_{k} / a{k}_{k}_{k} AS b{k + 1}_{i}"
                    )
                ctes.append(
                    f"e{k + 1}_{P} AS (SELECT *, " + ", ".join(upd) + f" FROM e{k}_{P})"
                )
            last = m - 1
            ctes.append(
                f"sx{last}_{P} AS (SELECT *, b{last}_{last} / a{last}_{last}_{last} "
                f"AS x{last} FROM e{last}_{P})"
            )
            for i in range(m - 2, -1, -1):
                terms = " - ".join(
                    [f"b{i}_{i}"] + [f"a{i}_{i}_{j} * x{j}" for j in range(i + 1, m)]
                )
                ctes.append(
                    f"sx{i}_{P} AS (SELECT *, ({terms}) / a{i}_{i}_{i} AS x{i} "
                    f"FROM sx{i + 1}_{P})"
                )

            def pred(buf):
                return f"x{L} + " + " + ".join(f"x{k} * {buf[k]}" for k in range(L))

            buf = [f"q{j}" for j in range(1, L + 1)]
            low_col = ", low" if c == 0 else ""
            ctes.append(
                f"p1_{P} AS (SELECT e{low_col}, "
                + ", ".join(f"q{j}" for j in range(1, L + 1))
                + ", "
                + ", ".join(f"x{k}" for k in range(L + 1))
                + f", {pred(buf)} AS p1 FROM tail_{sname}, sx0_{P})"
            )
            for h in range(2, 5):
                buf = [f"p{h - 1}"] + buf[:-1]
                ctes.append(
                    f"p{h}_{P} AS (SELECT *, {pred(buf)} AS p{h} FROM p{h - 1}_{P})"
                )
        uni = []
        for sname, c in (("s5", 5), ("s4", 4)):
            P = f"c{L}{sname}"
            uni.append(
                f"SELECT t0.e, t0.y AS actual, "
                f"CASE t0.i - (t0.n - {c}) + 1 WHEN 1 THEN p.p1 WHEN 2 THEN p.p2 "
                f"WHEN 3 THEN p.p3 ELSE p.p4 END AS pred "
                f"FROM t0 JOIN p4_{P} p ON p.e = t0.e "
                f"AND t0.i >= t0.n - {c} AND t0.i < t0.n - {c} + 4"
            )
        ctes.append(f"bt_c{L} AS (" + " UNION ALL ".join(uni) + ")")
        ctes.append(
            f"sm_c{L} AS (SELECT e, SUM(ABS(pred - actual)) / SUM(pred + actual) AS s "
            f"FROM bt_c{L} GROUP BY e)"
        )
        ctes.append(f"sc_c{L} AS (SELECT {L} AS lags, AVG(s) AS score FROM sm_c{L})")
    ctes.append(
        "win AS (SELECT lags FROM ("
        + " UNION ALL ".join(f"SELECT * FROM sc_c{L}" for L in LAGS)
        + ") ORDER BY score ASC, lags ASC LIMIT 1)"
    )

    def case_p(h):
        return (
            "CASE win.lags "
            + " ".join(f"WHEN {L} THEN f{L}.p{h}" for L in LAGS)
            + " END"
        )

    joins = " ".join(f"JOIN p4_c{L}s0 f{L} ON f{L}.e = f3.e" for L in LAGS[1:])
    return (
        "WITH " + ", ".join(ctes) + " "
        "SELECT f3.e AS user_id, f3.low + g.step * INTERVAL '1 hour' AS ts, "
        + rnd(
            "CASE g.step WHEN 1 THEN " + case_p(1) + " WHEN 2 THEN " + case_p(2)
            + " WHEN 3 THEN " + case_p(3) + " ELSE " + case_p(4) + " END"
        )
        + " AS value "
        f"FROM p4_c3s0 f3 {joins}, win, (VALUES (1),(2),(3),(4)) AS g(step) "
        "ORDER BY 1, 2"
    )


# CTE attaching ordered-window helpers onto the panel
_LAGS = (
    ", q AS (SELECT user_id AS e, ts AS t, value AS x, "
    "lag(value) OVER w AS xl1, lead(value) OVER w AS xf1, lead(value, 2) OVER w AS xf2, "
    "row_number() OVER w - 1 AS i, "
    "count(*) OVER (PARTITION BY user_id) AS n, "
    "avg(value) OVER (PARTITION BY user_id) AS mu, "
    "min(value) OVER (PARTITION BY user_id) AS mn, "
    "max(value) OVER (PARTITION BY user_id) AS mx "
    f"FROM events {_W})"
)


def feature_oracles() -> dict:
    o: dict[str, str] = {}

    # benford: nine seeded conditional counts + closed-form Pearson
    _bd = [math.log10(1.0 + 1.0 / d) for d in range(1, 10)]
    _bc = [
        f"(COUNT(CASE WHEN regexp_extract(CAST(x AS VARCHAR), '[1-9]') = '{d}' "
        f"THEN 1 END) + 1.0)"
        for d in range(1, 10)
    ]
    _sc = " + ".join(_bc)
    _sc2 = " + ".join(f"{c}*{c}" for c in _bc)
    _scb = " + ".join(f"{c}*{b!r}" for c, b in zip(_bc, _bd))
    _sb = sum(_bd)
    _sb2 = sum(b * b for b in _bd)
    o["benford_correlation"] = _agg(
        _r(
            f"(9.0*({_scb}) - ({_sc})*{_sb!r}) / "
            f"SQRT((9.0*({_sc2}) - ({_sc})*({_sc})) * {9.0 * _sb2 - _sb * _sb!r})"
        ),
        "benford_correlation",
    )

    o["absolute_energy"] = _agg(_r("SUM(x*x)"), "absolute_energy")
    o["absolute_maximum"] = _agg(
        _r("GREATEST(ABS(MIN(x)), ABS(MAX(x)))"), "absolute_maximum"
    )
    o["root_mean_square"] = _agg(_r("SQRT(SUM(x*x)/COUNT(x))"), "root_mean_square")
    o["count_above"] = _agg(
        _r("100.0 * COUNT(CASE WHEN x >= 0.0 THEN 1 END) / COUNT(x)"), "count_above"
    )
    o["count_below"] = _agg(
        _r("100.0 * COUNT(CASE WHEN x <= 0.0 THEN 1 END) / COUNT(x)"), "count_below"
    )
    o["variation_coefficient"] = _agg(
        _r("stddev_pop(x)/AVG(x)"), "variation_coefficient"
    )
    # skewness / kurtosis: population central moments (Spark's
    # F.skewness / F.kurtosis semantics: g1 = m3/m2^1.5, g2 =
    # m4/m2^2 - 3). Centered via a mean CTE so the 4th-power sums
    # don't cancel catastrophically.
    _cent = (
        ", mu AS (SELECT e, AVG(x) AS m FROM p GROUP BY e), "
        "d AS (SELECT p.e, p.x - mu.m AS xc FROM p JOIN mu USING (e))"
    )
    o["skewness"] = _agg(
        _r("AVG(xc*xc*xc) / POW(AVG(xc*xc), 1.5)"),
        "skewness", extra_cte=_cent, src="d",
    )
    o["kurtosis"] = _agg(
        _r("AVG(xc*xc*xc*xc) / POW(AVG(xc*xc), 2.0) - 3.0"),
        "kurtosis", extra_cte=_cent, src="d",
    )
    o["harmonic_mean"] = _agg(_r("COUNT(x)/SUM(1.0/x)"), "harmonic_mean")
    o["range_over_mean"] = _agg(_r("(MAX(x)-MIN(x))/AVG(x)"), "range_over_mean")
    o["range_change"] = _agg(_r("MAX(x)/MIN(x) - 1.0"), "range_change")
    o["var_gt_std"] = _agg("var_samp(x) >= 1", "var_gt_std")
    o["large_standard_deviation"] = _agg(
        "stddev_samp(x) > 0.25*(MAX(x)-MIN(x))", "large_standard_deviation"
    )
    o["symmetry_looking"] = _agg(
        "ABS(AVG(x) - median(x)) < 0.25*(MAX(x)-MIN(x))", "symmetry_looking"
    )
    o["has_duplicate"] = _agg("COUNT(x) != COUNT(DISTINCT x)", "has_duplicate")
    o["ratio_n_unique_to_length"] = _agg(
        _r("COUNT(DISTINCT x)/CAST(COUNT(x) AS DOUBLE)"), "ratio_n_unique_to_length"
    )
    o["range_count"] = _agg(
        "CAST(COUNT(CASE WHEN x >= 0.0 AND x < 1.0 THEN 1 END) AS BIGINT)",
        "range_count",
    )
    o["ratio_beyond_r_sigma"] = (
        f"WITH p AS ({_P}), s AS ("
        "SELECT e, x, AVG(x) OVER (PARTITION BY e) AS mu, "
        "stddev_pop(x) OVER (PARTITION BY e) AS sd FROM p) "
        f"SELECT e AS user_id, {_r('COUNT(CASE WHEN x < mu - 0.25*sd OR x > mu + 0.25*sd THEN 1 END) / CAST(COUNT(x) AS DOUBLE)')} "
        "AS ratio_beyond_r_sigma FROM s GROUP BY e ORDER BY user_id"
    )
    o["count_above_mean"] = (
        f"WITH p AS ({_P}), s AS (SELECT e, x, AVG(x) OVER (PARTITION BY e) mu FROM p) "
        "SELECT e AS user_id, CAST(COUNT(CASE WHEN x > mu THEN 1 END) AS BIGINT) AS count_above_mean "
        "FROM s GROUP BY e ORDER BY user_id"
    )
    o["count_below_mean"] = (
        f"WITH p AS ({_P}), s AS (SELECT e, x, AVG(x) OVER (PARTITION BY e) mu FROM p) "
        "SELECT e AS user_id, CAST(COUNT(CASE WHEN x < mu THEN 1 END) AS BIGINT) AS count_below_mean "
        "FROM s GROUP BY e ORDER BY user_id"
    )
    o["has_duplicate_max"] = (
        f"WITH p AS ({_P}), s AS (SELECT e, x, MAX(x) OVER (PARTITION BY e) mx FROM p) "
        "SELECT e AS user_id, COUNT(CASE WHEN x = mx THEN 1 END) > 1 AS has_duplicate_max "
        "FROM s GROUP BY e ORDER BY user_id"
    )
    o["has_duplicate_min"] = (
        f"WITH p AS ({_P}), s AS (SELECT e, x, MIN(x) OVER (PARTITION BY e) mn FROM p) "
        "SELECT e AS user_id, COUNT(CASE WHEN x = mn THEN 1 END) > 1 AS has_duplicate_min "
        "FROM s GROUP BY e ORDER BY user_id"
    )

    # --- diff/lag-based -------------------------------------------------
    lagcte = (
        f"WITH q AS (SELECT user_id AS e, value AS x, "
        f"lag(value) OVER w AS xl1, lead(value) OVER w AS xf1, lead(value,2) OVER w AS xf2, "
        f"lag(value,1) OVER w AS xb1, "
        f"row_number() OVER w - 1 AS i, count(*) OVER (PARTITION BY user_id) AS n, "
        f"avg(value) OVER (PARTITION BY user_id) AS mu, "
        f"min(value) OVER (PARTITION BY user_id) AS mn, "
        f"max(value) OVER (PARTITION BY user_id) AS mx, "
        f"stddev_pop(value) OVER (PARTITION BY user_id) AS sdp "
        f"FROM events {_W}) "
    )

    def lag_agg(expr: str, name: str) -> str:
        return (
            lagcte
            + f"SELECT e AS user_id, {expr} AS {name} FROM q GROUP BY e ORDER BY user_id"
        )

    o["absolute_sum_of_changes"] = lag_agg(
        _r("SUM(ABS(x - xl1))"), "absolute_sum_of_changes"
    )
    o["mean_abs_change"] = lag_agg(_r("AVG(ABS(x - xl1))"), "mean_abs_change")
    o["max_abs_change"] = lag_agg(_r("MAX(ABS(x - xl1))"), "max_abs_change")
    o["cid_ce"] = lag_agg(_r("SQRT(SUM((x - xl1)*(x - xl1)))"), "cid_ce")
    o["autocorrelation"] = lag_agg(
        _r("SUM((x - mu)*(xl1 - mu)) / (var_pop(x) * (COUNT(x) - 1))"),
        "autocorrelation",
    )
    o["c3"] = lag_agg(_r("SUM(x * xf1 * xf2) / (COUNT(x) - 2)"), "c3")
    o["time_reversal_asymmetry_statistic"] = lag_agg(
        _r("AVG(xf1 * (xf2 + x) * (xf2 - x))"), "time_reversal_asymmetry_statistic"
    )
    o["mean_change"] = lag_agg(
        _r(
            "CASE WHEN COUNT(x) > 1 THEN (max_by(x, i) - min_by(x, i)) / (COUNT(x) - 1) ELSE 0.0 END"
        ),
        "mean_change",
    )
    o["number_peaks"] = lag_agg(
        "CAST(COUNT(CASE WHEN COALESCE(x > xf1 AND x > xl1, FALSE) THEN 1 END) AS BIGINT)",
        "number_peaks",
    )
    o["mean_second_derivative_central"] = lag_agg(
        _r(
            "(MAX(CASE WHEN i = n-1 THEN x END) - MAX(CASE WHEN i = n-2 THEN x END)"
            " - MAX(CASE WHEN i = 1 THEN x END) + MAX(CASE WHEN i = 0 THEN x END))"
            " / (2.0 * (COUNT(x) - 2))"
        ),
        "mean_second_derivative_central",
    )
    o["first_location_of_maximum"] = lag_agg(
        _r("MIN(CASE WHEN x = mx THEN i END) / CAST(COUNT(x) AS DOUBLE)"),
        "first_location_of_maximum",
    )
    o["first_location_of_minimum"] = lag_agg(
        _r("MIN(CASE WHEN x = mn THEN i END) / CAST(COUNT(x) AS DOUBLE)"),
        "first_location_of_minimum",
    )
    o["last_location_of_maximum"] = lag_agg(
        _r("(MAX(CASE WHEN x = mx THEN i END) + 1) / CAST(COUNT(x) AS DOUBLE)"),
        "last_location_of_maximum",
    )
    o["last_location_of_minimum"] = lag_agg(
        _r("(MAX(CASE WHEN x = mn THEN i END) + 1) / CAST(COUNT(x) AS DOUBLE)"),
        "last_location_of_minimum",
    )
    o["number_crossings"] = (
        f"WITH f AS (SELECT user_id AS e, value > 0.0 AS ab, "
        f"lag(value > 0.0) OVER w AS abl FROM events {_W}) "
        "SELECT e AS user_id, CAST(SUM(CASE WHEN ab != abl THEN 1 ELSE 0 END) AS BIGINT) "
        "AS number_crossings FROM f GROUP BY e ORDER BY user_id"
    )

    # linear_trend: same closed-form as the Spark expression
    o["linear_trend"] = (
        lagcte
        + "SELECT e AS user_id, "
        + _r("covar_samp(i, x)/var_samp(i)")
        + " AS slope, "
        + _r("AVG(x) - (covar_samp(i, x)/var_samp(i)) * (COUNT(x)-1)/2.0")
        + " AS intercept, "
        + _r(
            "SUM(x*x) - 2*(covar_samp(i,x)/var_samp(i))*SUM(x*i)"
            " - 2*(AVG(x) - (covar_samp(i,x)/var_samp(i))*(COUNT(x)-1)/2.0)*SUM(x)"
            " + (covar_samp(i,x)/var_samp(i))*(covar_samp(i,x)/var_samp(i))*SUM(i*i)"
            " + 2*(AVG(x) - (covar_samp(i,x)/var_samp(i))*(COUNT(x)-1)/2.0)*(covar_samp(i,x)/var_samp(i))*SUM(i)"
            " + COUNT(x)*(AVG(x) - (covar_samp(i,x)/var_samp(i))*(COUNT(x)-1)/2.0)"
            "*(AVG(x) - (covar_samp(i,x)/var_samp(i))*(COUNT(x)-1)/2.0)"
        )
        + " AS rss FROM q GROUP BY e ORDER BY user_id"
    )

    # --- value-count based ---------------------------------------------
    vccte = (
        f"WITH p AS ({_P}), v AS ("
        "SELECT e, x, COUNT(*) OVER (PARTITION BY e, x) AS vc, "
        "COUNT(*) OVER (PARTITION BY e) AS n FROM p) "
    )
    o["percent_reoccurring_points"] = (
        vccte
        + f"SELECT e AS user_id, {_r('1.0 - COUNT(CASE WHEN vc = 1 THEN 1 END)/CAST(COUNT(x) AS DOUBLE)')} "
        "AS percent_reoccurring_points FROM v GROUP BY e ORDER BY user_id"
    )
    o["percent_reoccurring_values"] = (
        vccte
        + f"SELECT e AS user_id, {_r('COUNT(DISTINCT CASE WHEN vc > 1 THEN x END)/CAST(COUNT(DISTINCT x) AS DOUBLE)')} "
        "AS percent_reoccurring_values FROM v GROUP BY e ORDER BY user_id"
    )
    o["sum_reoccurring_points"] = (
        vccte
        + f"SELECT e AS user_id, {_r('COALESCE(SUM(CASE WHEN vc > 1 THEN x END), 0.0)')} "
        "AS sum_reoccurring_points FROM v GROUP BY e ORDER BY user_id"
    )
    o["sum_reoccurring_values"] = (
        vccte
        + f"SELECT e AS user_id, {_r('COALESCE(SUM(DISTINCT CASE WHEN vc > 1 THEN x END), 0.0)')} "
        "AS sum_reoccurring_values FROM v GROUP BY e ORDER BY user_id"
    )

    # --- entropy family -------------------------------------------------
    o["binned_entropy"] = (
        f"WITH p AS ({_P}), s AS ("
        "SELECT e, x, MIN(x) OVER (PARTITION BY e) mn, MAX(x) OVER (PARTITION BY e) mx, "
        "COUNT(*) OVER (PARTITION BY e) n FROM p), "
        "b AS (SELECT e, n, FLOOR((x - mn)/(1e-12 + (mx - mn)/10.0)) AS bin FROM s), "
        "c AS (SELECT e, ANY_VALUE(n) AS n, COUNT(*) AS cnt FROM b GROUP BY e, bin) "
        f"SELECT e AS user_id, {_r('-SUM((cnt/CAST(n AS DOUBLE)) * LN(cnt/CAST(n AS DOUBLE)))')} "
        "AS binned_entropy FROM c GROUP BY e ORDER BY user_id"
    )
    o["permutation_entropy"] = (
        f"WITH q AS (SELECT user_id AS e, value AS x, "
        f"lead(value) OVER w AS x1, lead(value,2) OVER w AS x2, "
        f"row_number() OVER w - 1 AS i, count(*) OVER (PARTITION BY user_id) AS n "
        f"FROM events {_W}), "
        "r AS (SELECT e, "
        "(CASE WHEN x1 < x THEN 1 ELSE 0 END) + (CASE WHEN x2 < x THEN 1 ELSE 0 END) AS r0, "
        "(CASE WHEN x < x1 OR x = x1 THEN 1 ELSE 0 END) + (CASE WHEN x2 < x1 THEN 1 ELSE 0 END) AS r1, "
        "(CASE WHEN x < x2 OR x = x2 THEN 1 ELSE 0 END) + (CASE WHEN x1 < x2 OR x1 = x2 THEN 1 ELSE 0 END) AS r2 "
        "FROM q WHERE i <= n - 3), "
        "c AS (SELECT e, r0 + r1*3 + r2*9 AS pat, COUNT(*) AS cnt FROM r GROUP BY e, pat), "
        "t AS (SELECT e, SUM(cnt) AS tot FROM c GROUP BY e) "
        f"SELECT c.e AS user_id, {_r('-SUM((cnt/CAST(tot AS DOUBLE)) * LN(cnt/CAST(tot AS DOUBLE)))')} "
        "AS permutation_entropy FROM c JOIN t ON c.e = t.e GROUP BY c.e, tot ORDER BY user_id"
    )

    # --- cumulative / positional ---------------------------------------
    o["index_mass_quantile"] = (
        f"WITH q AS (SELECT user_id AS e, ABS(value) AS ax, "
        f"SUM(ABS(value)) OVER (PARTITION BY user_id ORDER BY ts "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum, "
        "SUM(ABS(value)) OVER (PARTITION BY user_id) AS tot, "
        f"row_number() OVER w - 1 AS i, count(*) OVER (PARTITION BY user_id) AS n "
        f"FROM events {_W}) "
        f"SELECT e AS user_id, {_r('(MIN(CASE WHEN cum >= 0.5*tot THEN i END) + 1) / CAST(COUNT(*) AS DOUBLE)')} "
        "AS index_mass_quantile FROM q GROUP BY e ORDER BY user_id"
    )
    o["energy_ratios"] = (
        f"WITH q AS (SELECT user_id AS e, value AS x, "
        f"row_number() OVER w - 1 AS i, count(*) OVER (PARTITION BY user_id) AS n "
        f"FROM events {_W}), "
        "b AS (SELECT e, FLOOR(i / CEIL(n/10.0)) AS chunk, x*x AS x2 FROM q), "
        "c AS (SELECT e, chunk, SUM(x2) AS s FROM b GROUP BY e, chunk), "
        "t AS (SELECT e, SUM(s) AS tot FROM c GROUP BY e) "
        "SELECT c.e AS user_id, "
        + ", ".join(
            _r(f"COALESCE(MAX(CASE WHEN chunk = {k} THEN s END)/tot, 0.0)")
            + f" AS er_{k}"
            for k in range(10)
        )
        + " FROM c JOIN t ON c.e = t.e GROUP BY c.e, tot ORDER BY user_id"
    )
    o["mean_n_absolute_max"] = (
        f"WITH p AS ({_P}), r AS ("
        "SELECT e, ABS(x) AS a, row_number() OVER (PARTITION BY e ORDER BY ABS(x) DESC) AS rn FROM p) "
        f"SELECT e AS user_id, {_r('AVG(a)')} AS mean_n_absolute_max "
        "FROM r WHERE rn <= 3 GROUP BY e ORDER BY user_id"
    )

    # --- corridor (change_quantiles) -----------------------------------
    o["change_quantiles"] = (
        f"WITH p AS (SELECT user_id AS e, ts AS t, value AS x FROM events), "
        "qq AS (SELECT e, quantile_cont(x, 0.1) AS ql, quantile_cont(x, 0.9) AS qh FROM p GROUP BY e), "
        "f AS (SELECT p.e, t, x, x BETWEEN ql AND qh AS inside FROM p JOIN qq ON p.e = qq.e), "
        "g AS (SELECT e, x - lag(x) OVER w AS dx, inside, "
        "COALESCE(lag(inside) OVER w, FALSE) AS pinside FROM f WINDOW w AS (PARTITION BY e ORDER BY t)) "
        "SELECT e AS user_id, "
        "CAST(COUNT(CASE WHEN inside AND pinside THEN dx END) AS BIGINT) AS n, "
        + _r("AVG(CASE WHEN inside AND pinside THEN ABS(dx) END)")
        + " AS mean, "
        + _r("stddev_samp(CASE WHEN inside AND pinside THEN ABS(dx) END)")
        + " AS std FROM g GROUP BY e ORDER BY user_id"
    )

    # --- streaks (gaps and islands) ------------------------------------
    def streak_sql(flag_expr: str, name: str, agg: str) -> str:
        return (
            f"WITH d AS (SELECT user_id AS e, ts AS t, "
            f"value - lag(value) OVER w AS dx FROM events {_W}), "
            f"f AS (SELECT e, t, CASE WHEN dx IS NULL THEN NULL ELSE ({flag_expr}) END AS flag FROM d), "
            "g AS (SELECT e, t, flag, CASE WHEN flag IS DISTINCT FROM lag(flag) OVER (PARTITION BY e ORDER BY t) THEN 1 ELSE 0 END AS chg FROM f), "
            "h AS (SELECT e, t, flag, SUM(chg) OVER (PARTITION BY e ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp FROM g), "
            "runs AS (SELECT e, grp, COUNT(*) AS len FROM h WHERE flag GROUP BY e, grp) "
            f"SELECT e AS user_id, {agg} AS {name} FROM runs GROUP BY e ORDER BY user_id"
        )

    # NOTE: entities where no run exists at all would drop out of the
    # oracle but appear with 0 in Spark; with dense panels every entity
    # has at least one diff>=0 run. longest_streak_* below guard this
    # with a left join against the entity list.
    def streak_sql_full(flag_expr: str, name: str) -> str:
        inner = streak_sql(flag_expr, name, "CAST(MAX(len) AS BIGINT)")
        return (
            f"WITH ents AS (SELECT DISTINCT user_id FROM events), r AS ({inner}) "
            f"SELECT ents.user_id, COALESCE(r.{name}, 0) AS {name} FROM ents "
            f"LEFT JOIN r ON ents.user_id = r.user_id ORDER BY ents.user_id"
        )

    o["longest_streak_above"] = streak_sql_full("dx >= 0.0", "longest_streak_above")
    o["longest_streak_below"] = streak_sql_full("dx <= 0.0", "longest_streak_below")
    o["longest_winning_streak"] = streak_sql_full("dx >= 0.0", "longest_winning_streak")
    o["longest_losing_streak"] = streak_sql_full("dx <= 0.0", "longest_losing_streak")

    def mean_streak_sql(cmp: str, name: str) -> str:
        return (
            f"WITH p AS ({_P}), s AS ("
            "SELECT e, t, x, AVG(x) OVER (PARTITION BY e) AS mu FROM p), "
            f"f AS (SELECT e, t, x {cmp} mu AS flag FROM s), "
            "g AS (SELECT e, t, flag, CASE WHEN flag IS DISTINCT FROM lag(flag) OVER (PARTITION BY e ORDER BY t) THEN 1 ELSE 0 END AS chg FROM f), "
            "h AS (SELECT e, flag, SUM(chg) OVER (PARTITION BY e ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp FROM g), "
            "runs AS (SELECT e, grp, COUNT(*) AS len FROM h WHERE flag GROUP BY e, grp), "
            "ents AS (SELECT DISTINCT user_id AS e FROM events) "
            f"SELECT ents.e AS user_id, CAST(COALESCE(MAX(len), 0) AS BIGINT) AS {name} "
            "FROM ents LEFT JOIN runs ON ents.e = runs.e GROUP BY ents.e ORDER BY user_id"
        )

    o["longest_streak_above_mean"] = mean_streak_sql(">", "longest_streak_above_mean")
    o["longest_streak_below_mean"] = mean_streak_sql("<", "longest_streak_below_mean")

    o["streak_length_stats"] = (
        f"WITH d AS (SELECT user_id AS e, ts AS t, value - lag(value) OVER w AS dx FROM events {_W}), "
        "f AS (SELECT e, t, CASE WHEN dx IS NULL THEN NULL ELSE (dx >= 0.0) END AS flag FROM d), "
        "g AS (SELECT e, t, flag, CASE WHEN flag IS DISTINCT FROM lag(flag) OVER (PARTITION BY e ORDER BY t) THEN 1 ELSE 0 END AS chg FROM f), "
        "h AS (SELECT e, t, flag, SUM(chg) OVER (PARTITION BY e ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp FROM g), "
        "runs AS (SELECT e, grp, COUNT(*) AS len FROM h WHERE flag GROUP BY e, grp), "
        "m AS (SELECT e, len, COUNT(*) AS c FROM runs GROUP BY e, len), "
        "md AS (SELECT e, len AS mode_len, row_number() OVER (PARTITION BY e ORDER BY c DESC, len ASC) AS rn FROM m) "
        "SELECT runs.e AS user_id, "
        "CAST(GREATEST(MIN(len), 0) AS BIGINT) AS min, CAST(MAX(len) AS BIGINT) AS max, "
        + _r("AVG(len)")
        + " AS mean, "
        + _r("stddev_samp(len)")
        + " AS std, "
        + _r("list_extract(list_sort(list(len)), CAST(round(0.1*(COUNT(len)-1)) AS INT)+1)")
        + " AS p10, "
        + _r("quantile_cont(len, 0.5)")
        + " AS median, "
        + _r("list_extract(list_sort(list(len)), CAST(round(0.9*(COUNT(len)-1)) AS INT)+1)")
        + " AS p90, "
        "CAST(ANY_VALUE(mode_len) AS BIGINT) AS mode "
        "FROM runs JOIN (SELECT e, mode_len FROM md WHERE rn = 1) mm ON runs.e = mm.e "
        "GROUP BY runs.e ORDER BY user_id"
    )

    return o


def operator_oracles() -> dict:
    """Oracles for the preprocessing / metrics / cv / forecasting /
    pipeline queries in __spark_entry__."""
    o: dict[str, str] = {}

    o["preproc_lag"] = (
        f"WITH q AS (SELECT user_id, ts, "
        "lag(value, 1) OVER w AS value__lag_1, lag(value, 2) OVER w AS value__lag_2, "
        f"lag(value, 3) OVER w AS value__lag_3, row_number() OVER w AS rn FROM events {_W}) "
        "SELECT user_id, ts, "
        + ", ".join(
            _r(f"value__lag_{k}") + f" AS value__lag_{k}" for k in (1, 2, 3)
        )
        + " FROM q WHERE rn > 3 ORDER BY user_id, ts"
    )

    o["preproc_diff"] = (
        f"SELECT user_id, ts, {_r('value - lag(value) OVER w')} AS value "
        f"FROM events {_W} ORDER BY user_id, ts"
    )

    o["preproc_scale"] = (
        "WITH s AS (SELECT user_id, ts, value, AVG(value) OVER (PARTITION BY user_id) AS mu, "
        "stddev_samp(value) OVER (PARTITION BY user_id) AS sd FROM events) "
        f"SELECT user_id, ts, {_r('(value - mu)/sd')} AS value FROM s ORDER BY user_id, ts"
    )

    o["preproc_time_to_arange"] = (
        f"SELECT user_id, CAST(row_number() OVER w - 1 AS BIGINT) AS ts, "
        f"{_r('value')} AS value FROM events {_W} ORDER BY user_id, ts"
    )

    o["preproc_trim"] = (
        "WITH b AS (SELECT MAX(mn) AS s, MIN(mx) AS e FROM "
        "(SELECT MIN(ts) AS mn, MAX(ts) AS mx FROM events GROUP BY user_id)) "
        f"SELECT user_id, ts, {_r('value')} AS value FROM events, b "
        "WHERE ts >= s AND ts <= e ORDER BY user_id, ts"
    )

    o["preproc_detrend"] = (
        f"WITH q AS (SELECT user_id, ts, value, row_number() OVER w - 1 AS i FROM events {_W}), "
        "p AS (SELECT user_id, covar_samp(i, value)/var_samp(i) AS beta, "
        "AVG(value) - covar_samp(i, value)/var_samp(i)*(COUNT(*)-1)/2.0 AS alpha "
        "FROM q GROUP BY user_id) "
        f"SELECT q.user_id, ts, {_r('value - beta*i - alpha')} AS value "
        "FROM q JOIN p ON q.user_id = p.user_id ORDER BY q.user_id, ts"
    )

    # weights must match functime_spark.operators.preprocessing._ffd_weights
    from functime_spark.operators.preprocessing import _ffd_weights

    ws = _ffd_weights(0.5, None, 9)
    terms = [f"({ws[0]!r}) * value"] + [
        f"({w!r}) * lag(value, {j}) OVER w" for j, w in enumerate(ws[1:], start=1)
    ]
    o["preproc_fractional_diff"] = (
        f"SELECT user_id, ts, {_r(' + '.join(terms))} AS value "
        f"FROM events {_W} ORDER BY user_id, ts"
    )

    o["preproc_resample_1d"] = (
        "WITH b AS (SELECT user_id, time_bucket(INTERVAL '1 day', ts) AS ts, "
        "SUM(value) AS value FROM events GROUP BY 1, 2), "
        "days AS (SELECT DISTINCT ts FROM b), users AS (SELECT DISTINCT user_id FROM b), "
        "grid AS (SELECT user_id, ts FROM users CROSS JOIN days), "
        "j AS (SELECT g.user_id, g.ts, b.value FROM grid g "
        "LEFT JOIN b ON g.user_id = b.user_id AND g.ts = b.ts), "
        "f AS (SELECT user_id, ts, COALESCE(value, last_value(value IGNORE NULLS) "
        "OVER (PARTITION BY user_id ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS v FROM j) "
        f"SELECT user_id, ts, {_r('COALESCE(v, 0.0)')} AS value FROM f ORDER BY user_id, ts"
    )

    fourier_cols = []
    for k in (1, 2):
        fourier_cols.append(_r(f"cos(2*pi()*{k}*fc)") + f" AS cos_7_{k}")
        fourier_cols.append(_r(f"sin(2*pi()*{k}*fc)") + f" AS sin_7_{k}")
    o["fourier_terms"] = (
        f"WITH q AS (SELECT user_id, ts, value, "
        f"((row_number() OVER w - 1) % 7)/7.0 AS fc FROM events {_W}) "
        f"SELECT user_id, ts, {_r('value')} AS value, "
        + ", ".join(fourier_cols)
        + " FROM q ORDER BY user_id, ts"
    )

    o["calendar_effects"] = (
        f"SELECT user_id, ts, {_r('value')} AS value, "
        "CAST(hour(ts) AS VARCHAR) AS hour, CAST(day(ts) AS VARCHAR) AS day, "
        "CAST(isodow(ts) AS VARCHAR) AS weekday, CAST(month(ts) AS VARCHAR) AS month, "
        "CAST(year(ts) AS VARCHAR) AS year FROM events ORDER BY user_id, ts"
    )

    o["cv_train_test_split"] = (
        f"WITH q AS (SELECT user_id, ts, value, row_number() OVER w - 1 AS i, "
        f"COUNT(*) OVER (PARTITION BY user_id) AS n FROM events {_W}) "
        f"SELECT user_id, ts, {_r('value')} AS value FROM q "
        "WHERE i < CAST(FLOOR(n * 0.75) AS BIGINT) ORDER BY user_id, ts"
    )

    o["cv_expanding_window"] = (
        f"WITH q AS (SELECT user_id, ts, value, row_number() OVER w - 1 AS i, "
        f"COUNT(*) OVER (PARTITION BY user_id) AS n FROM events {_W}) "
        f"SELECT user_id, ts, {_r('value')} AS value FROM q "
        "WHERE i >= n - 4 ORDER BY user_id, ts"
    )

    o["preproc_log1p"] = (
        f"SELECT user_id, ts, {_r('LN(1 + ABS(value))')} AS value "
        "FROM events ORDER BY user_id, ts"
    )

    _etypes = ["click", "error", "purchase", "signup", "view"]
    o["preproc_one_hot"] = (
        f"SELECT user_id, ts, {_r('value')} AS value, "
        + ", ".join(
            f"CAST(event_type = '{v}' AS TINYINT) AS event_type__{v}"
            for v in _etypes
        )
        + " FROM events ORDER BY user_id, ts"
    )

    # split 0 of sliding_window_split(test=4, n_splits=2, step=4, window=8):
    # cutoff = test + step = 8; train i in [n-16, n-8)
    o["cv_sliding_window"] = (
        f"WITH q AS (SELECT user_id, ts, value, row_number() OVER w - 1 AS i, "
        f"COUNT(*) OVER (PARTITION BY user_id) AS n FROM events {_W}) "
        f"SELECT user_id, ts, {_r('value')} AS value FROM q "
        "WHERE i >= n - 16 AND i < n - 8 ORDER BY user_id, ts"
    )

    o["metrics_interval"] = (
        f"WITH p AS (SELECT user_id, ts, value AS actual, "
        f"lag(value) OVER w AS pred FROM events {_W}), "
        "sd AS (SELECT user_id, stddev_samp(value) AS s FROM events GROUP BY user_id), "
        "j AS (SELECT p.user_id, actual, pred - s AS lo, pred + s AS hi "
        "FROM p JOIN sd ON p.user_id = sd.user_id WHERE pred IS NOT NULL) "
        "SELECT user_id, "
        + _r("AVG(CASE WHEN actual >= lo AND actual <= hi THEN 1.0 ELSE 0.0 END)")
        + " AS coverage, "
        + _r(
            "AVG((hi - lo) + CASE WHEN actual < lo THEN (lo - actual) * 20.0 "
            "WHEN actual > hi THEN (actual - hi) * 20.0 ELSE 0.0 END)"
        )
        + " AS winkler FROM j GROUP BY user_id ORDER BY user_id"
    )

    # tpch_pricing_summary (Q1 shape): one grouped aggregate, money
    # sums rounded at 3 decimals to sit above summation-order noise
    o["tpch_pricing_summary"] = (
        "SELECT l_returnflag, l_linestatus, "
        + _r3("SUM(l_quantity)") + " AS sum_qty, "
        + _r3("SUM(l_extendedprice)") + " AS sum_base_price, "
        + _r3("SUM(l_extendedprice * (1 - l_discount))") + " AS sum_disc_price, "
        + _r3("SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax))")
        + " AS sum_charge, "
        + _r3("AVG(l_quantity)") + " AS avg_qty, "
        + _r3("AVG(l_extendedprice)") + " AS avg_price, "
        + _r3("AVG(l_discount)") + " AS avg_disc, "
        "COUNT(*) AS count_order "
        "FROM lineitem WHERE l_shipdate <= DATE '1998-09-02' "
        "GROUP BY 1, 2 ORDER BY 1, 2"
    )

    # tpch_local_supplier_volume (Q5 shape): same-nation customer and
    # supplier within one region
    o["tpch_local_supplier_volume"] = (
        "SELECT n.n_name AS nation, "
        + _r3("SUM(l.l_extendedprice * (1 - l.l_discount))")
        + " AS revenue "
        "FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey "
        "JOIN supplier s ON l.l_suppkey = s.s_suppkey "
        "JOIN customer c ON o.o_custkey = c.c_custkey "
        "AND c.c_nationkey = s.s_nationkey "
        "JOIN nation n ON s.s_nationkey = n.n_nationkey "
        "JOIN region r ON n.n_regionkey = r.r_regionkey "
        "WHERE r.r_name = 'ASIA' GROUP BY 1 ORDER BY 1"
    )

    o["future_calendar"] = (
        "WITH c AS (SELECT user_id, MAX(ts) AS low FROM events GROUP BY user_id) "
        "SELECT user_id, low + i * INTERVAL '1 hour' AS ts, "
        "CAST(hour(low + i * INTERVAL '1 hour') AS VARCHAR) AS hour, "
        "CAST(isodow(low + i * INTERVAL '1 hour') AS VARCHAR) AS weekday, "
        "CAST(month(low + i * INTERVAL '1 hour') AS VARCHAR) AS month "
        "FROM c, generate_series(1, 4) AS g(i) ORDER BY user_id, ts"
    )

    o["eval_rank_forecasts"] = (
        f"WITH p AS (SELECT user_id, lag(value) OVER w AS pred FROM events {_W}) "
        "SELECT user_id, "
        + _r("stddev_samp(pred)/AVG(pred)")
        + " AS cv FROM p WHERE pred IS NOT NULL GROUP BY user_id ORDER BY user_id"
    )

    o["eval_rank_residuals"] = (
        f"WITH p AS (SELECT user_id, value - lag(value) OVER w AS r FROM events {_W}) "
        "SELECT user_id, "
        + _r("ABS(AVG(r))")
        + " AS abs_bias FROM p WHERE r IS NOT NULL GROUP BY user_id ORDER BY user_id"
    )

    o["stream_resample"] = (
        "SELECT user_id, time_bucket(INTERVAL '1 day', ts) AS ts, "
        f"{_r('SUM(value)')} AS value FROM events "
        "GROUP BY user_id, time_bucket(INTERVAL '1 day', ts) ORDER BY user_id, ts"
    )

    o["metrics_point"] = (
        f"WITH j AS (SELECT user_id, value AS actual, lag(value) OVER w AS pred FROM events {_W}), "
        "a AS (SELECT user_id, AVG(ABS(pred - actual)) AS mae_, "
        "AVG((pred - actual)*(pred - actual)) AS mse_, "
        "SUM(CASE WHEN pred > actual THEN pred END) AS over_, "
        "SUM(CASE WHEN pred < actual THEN pred END) AS under_, "
        "SUM(ABS(pred - actual))/SUM(pred + actual) AS smape_ "
        "FROM j GROUP BY user_id), "
        f"nv AS (SELECT user_id, AVG(ABS(d)) AS nb, AVG(d*d) AS nq FROM "
        f"(SELECT user_id, value - lag(value) OVER w AS d FROM events {_W}) GROUP BY user_id) "
        "SELECT a.user_id, "
        + _r("mae_")
        + " AS mae, "
        + _r("mae_/nb")
        + " AS mase, "
        + _r("mse_")
        + " AS mse, "
        + _r("over_")
        + " AS overforecast, "
        + _r("SQRT(mse_)")
        + " AS rmse, "
        + _r("SQRT(mse_/nq)")
        + " AS rmsse, "
        + _r("smape_")
        + " AS smape, "
        + _r("under_")
        + " AS underforecast "
        "FROM a JOIN nv ON a.user_id = nv.user_id ORDER BY a.user_id"
    )

    # metrics_crps: DuckDB has no erf, so evaluate it as the
    # all-positive-term confluent-hypergeometric series
    #   erf(x) = 2/sqrt(pi) * exp(-x^2) * sum_k x^(2k+1) * 2^k/(2k+1)!!
    # Horner-nested in v = x^2, clamped to sign(x) at |x| >= 4
    # (erfc(4) = 1.5e-8, far below the gate's 6-decimal rounding).
    _ck, _c = [], 1.0
    for _k in range(55):
        if _k:
            _c *= 2.0 / (2 * _k + 1)
        _ck.append(_c)
    _horner = repr(_ck[-1])
    for _c in reversed(_ck[:-1]):
        _horner = f"({_c!r} + v*{_horner})"
    o["metrics_crps"] = (
        f"WITH j AS (SELECT user_id, value AS actual, lag(value) OVER w AS pred "
        f"FROM events {_W}), "
        "zt AS (SELECT user_id, actual - pred AS z FROM j WHERE pred IS NOT NULL), "
        "xt AS (SELECT user_id, z, z/1.4142135623730951 AS x, z*z/2.0 AS v FROM zt), "
        "et AS (SELECT user_id, z, CASE WHEN abs(x) >= 4.0 THEN "
        "(CASE WHEN x > 0 THEN 1.0 ELSE -1.0 END) ELSE "
        f"1.1283791670955126 * exp(-v) * x * {_horner} END AS erfv FROM xt), "
        "r AS (SELECT user_id, z*erfv + 2.0*exp(-0.5*z*z)/2.5066282746310002 "
        "- 0.5641895835477563 AS cr FROM et) "
        f"SELECT user_id, {_r('AVG(cr)')} AS crps FROM r "
        "GROUP BY user_id ORDER BY user_id"
    )

    o["forecast_naive"] = (
        "WITH c AS (SELECT user_id, MAX(ts) AS low, max_by(value, ts) AS v "
        "FROM events GROUP BY user_id) "
        f"SELECT user_id, low + i * INTERVAL '1 hour' AS ts, {_r('v')} AS value "
        "FROM c, generate_series(1, 4) AS g(i) ORDER BY user_id, ts"
    )

    # forecast_theta (r9): OLS over the 0-based index, z = 2y - trend,
    # SES level, equal-weight combination. The engine folds the SES
    # recursion over each entity's time-sorted z; the oracle sums its
    # unrolled weights — alpha = 0.5, so every weight is a dyadic
    # rational and the two agree to float noise under the round.
    o["forecast_theta"] = (
        "WITH r AS (SELECT user_id, ts, value, "
        "CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts) - 1 "
        "AS DOUBLE) AS i FROM events), "
        "ols AS (SELECT user_id, CAST(COUNT(*) AS DOUBLE) AS n, "
        "SUM(i) AS si, SUM(value) AS sy, SUM(i * value) AS siy, "
        "SUM(i * i) AS sii, MAX(ts) AS low FROM r GROUP BY user_id), "
        "coef AS (SELECT user_id, n, low, "
        "CASE WHEN n * sii - si * si != 0 "
        "THEN (n * siy - si * sy) / (n * sii - si * si) ELSE 0.0 END AS b, "
        "(sy - CASE WHEN n * sii - si * si != 0 "
        "THEN (n * siy - si * sy) / (n * sii - si * si) ELSE 0.0 END * si) / n "
        "AS a FROM ols), "
        "lvl AS (SELECT r.user_id, SUM("
        "CASE WHEN r.i = 0 THEN pow(0.5, c.n - 1.0) "
        "ELSE 0.5 * pow(0.5, c.n - 1.0 - r.i) END "
        "* (2.0 * r.value - (c.a + c.b * r.i))) AS l "
        "FROM r JOIN coef c ON r.user_id = c.user_id GROUP BY r.user_id) "
        "SELECT c.user_id, c.low + g.s * INTERVAL '1 hour' AS ts, "
        + _r("0.5 * (c.a + c.b * (c.n + g.s - 1)) + 0.5 * lvl.l")
        + " AS value FROM coef c JOIN lvl ON c.user_id = lvl.user_id, "
        "generate_series(1, 4) AS g(s) ORDER BY c.user_id, ts"
    )

    # forecast_holt (r10): the engine folds the LITERAL recursion
    # l_t = a*y + (1-a)*(l + b), b_t = be*(l_t - l) + (1-be)*b over
    # each entity's time-sorted array; the oracle replays it with a
    # recursive CTE stepping every entity in lockstep — a = 0.5,
    # be = 0.25, phi = 1, so every recursion constant is a dyadic
    # rational and the two agree to float noise well under the
    # 6-decimal round.
    o["forecast_holt"] = (
        "WITH RECURSIVE r AS (SELECT user_id, ts, "
        "CAST(value AS DOUBLE) AS y, row_number() OVER "
        "(PARTITION BY user_id ORDER BY ts) AS t FROM events), "
        "nn AS (SELECT user_id, MAX(t) AS n, MAX(ts) AS low FROM r "
        "GROUP BY user_id), "
        "init AS (SELECT a.user_id, a.y AS y1, b.y AS y2 FROM r a "
        "LEFT JOIN r b ON a.user_id = b.user_id AND b.t = 2 "
        "WHERE a.t = 1), "
        "rec AS (SELECT user_id, 1 AS t, y1 AS l, "
        "COALESCE(y2 - y1, 0.0) AS b "
        "FROM init UNION ALL "
        "SELECT rec.user_id, rec.t + 1, "
        "0.5 * r.y + 0.5 * (rec.l + rec.b), "
        "0.25 * ((0.5 * r.y + 0.5 * (rec.l + rec.b)) - rec.l) "
        "+ 0.75 * rec.b "
        "FROM rec JOIN r ON r.user_id = rec.user_id "
        "AND r.t = rec.t + 1), "
        "fin AS (SELECT rec.user_id, rec.l, rec.b FROM rec "
        "JOIN nn ON nn.user_id = rec.user_id AND rec.t = nn.n) "
        "SELECT f.user_id, nn.low + g.s * INTERVAL '1 hour' AS ts, "
        + _r("f.l + g.s * f.b")
        + " AS value FROM fin f JOIN nn ON nn.user_id = f.user_id, "
        "generate_series(1, 4) AS g(s) ORDER BY f.user_id, ts"
    )

    # forecast_hw (r10): the additive Holt-Winters recursion replayed
    # with a recursive CTE whose rows CARRY the rolling m-slot
    # seasonal list (s[1] is always s_{t-m}; list_append of the slice
    # drops the oldest). Every arithmetic term is written in the SAME
    # order as the engine's kernel, and 1-alpha/1-beta/1-gamma round
    # to the exact doubles 0.7/0.9/0.8 both engines parse.
    o["forecast_hw"] = (
        "WITH RECURSIVE r AS (SELECT user_id, ts, "
        "CAST(value AS DOUBLE) AS y, row_number() OVER "
        "(PARTITION BY user_id ORDER BY ts) AS t FROM events), "
        "nn AS (SELECT user_id, MAX(t) AS n, MAX(ts) AS low FROM r "
        "GROUP BY user_id), "
        "init AS (SELECT user_id, "
        "AVG(CASE WHEN t <= 24 THEN y END) AS l0, "
        "(AVG(CASE WHEN t > 24 AND t <= 48 THEN y END) "
        "- AVG(CASE WHEN t <= 24 THEN y END)) / 24 AS b0, "
        "list(y ORDER BY t) FILTER (WHERE t <= 24) AS y1m "
        "FROM r GROUP BY user_id), "
        "rec AS (SELECT user_id, 24 AS t, l0 AS l, b0 AS b, "
        "[v - l0 FOR v IN y1m] AS s FROM init "
        "UNION ALL "
        "SELECT rec.user_id, rec.t + 1, "
        "0.3 * (r.y - rec.s[1]) + 0.7 * (rec.l + rec.b), "
        "0.1 * ((0.3 * (r.y - rec.s[1]) + 0.7 * (rec.l + rec.b)) "
        "- rec.l) + 0.9 * rec.b, "
        "list_append(rec.s[2:], "
        "0.2 * (r.y - rec.l - rec.b) + 0.8 * rec.s[1]) "
        "FROM rec JOIN r ON r.user_id = rec.user_id "
        "AND r.t = rec.t + 1), "
        "fin AS (SELECT rec.user_id, rec.l, rec.b, rec.s FROM rec "
        "JOIN nn ON nn.user_id = rec.user_id AND rec.t = nn.n) "
        "SELECT f.user_id, nn.low + g.s * INTERVAL '1 hour' AS ts, "
        + _r("f.l + g.s * f.b + f.s[CAST((g.s - 1) % 24 AS BIGINT) + 1]")
        + " AS value FROM fin f JOIN nn ON nn.user_id = f.user_id, "
        "generate_series(1, 26) AS g(s) ORDER BY f.user_id, ts"
    )

    # forecast_hw_mult (r11): the classic Winters 1960 MULTIPLICATIVE
    # recursion — level smooths y/s ratios, season smooths y/l_t
    # against the NEW level (the l_t expression is inlined verbatim so
    # both engines execute the identical IEEE op sequence), init
    # s_i = y_i / l_m. Same rolling-list CTE discipline as forecast_hw.
    o["forecast_hw_mult"] = (
        "WITH RECURSIVE r AS (SELECT user_id, ts, "
        "CAST(value AS DOUBLE) AS y, row_number() OVER "
        "(PARTITION BY user_id ORDER BY ts) AS t FROM events), "
        "nn AS (SELECT user_id, MAX(t) AS n, MAX(ts) AS low FROM r "
        "GROUP BY user_id), "
        "init AS (SELECT user_id, "
        "AVG(CASE WHEN t <= 24 THEN y END) AS l0, "
        "(AVG(CASE WHEN t > 24 AND t <= 48 THEN y END) "
        "- AVG(CASE WHEN t <= 24 THEN y END)) / 24 AS b0, "
        "list(y ORDER BY t) FILTER (WHERE t <= 24) AS y1m "
        "FROM r GROUP BY user_id), "
        "rec AS (SELECT user_id, 24 AS t, l0 AS l, b0 AS b, "
        "[v / l0 FOR v IN y1m] AS s FROM init "
        "UNION ALL "
        "SELECT rec.user_id, rec.t + 1, "
        "0.3 * (r.y / rec.s[1]) + 0.7 * (rec.l + rec.b), "
        "0.1 * ((0.3 * (r.y / rec.s[1]) + 0.7 * (rec.l + rec.b)) "
        "- rec.l) + 0.9 * rec.b, "
        "list_append(rec.s[2:], "
        "0.2 * (r.y / (0.3 * (r.y / rec.s[1]) + 0.7 * (rec.l + rec.b))) "
        "+ 0.8 * rec.s[1]) "
        "FROM rec JOIN r ON r.user_id = rec.user_id "
        "AND r.t = rec.t + 1), "
        "fin AS (SELECT rec.user_id, rec.l, rec.b, rec.s FROM rec "
        "JOIN nn ON nn.user_id = rec.user_id AND rec.t = nn.n) "
        "SELECT f.user_id, nn.low + g.s * INTERVAL '1 hour' AS ts, "
        + _r("(f.l + g.s * f.b) * f.s[CAST((g.s - 1) % 24 AS BIGINT) + 1]")
        + " AS value FROM fin f JOIN nn ON nn.user_id = f.user_id, "
        "generate_series(1, 26) AS g(s) ORDER BY f.user_id, ts"
    )

    # forecast_croston (r10): the engine folds both SES recursions
    # (demand sizes, intervals) over each entity's time-sorted array;
    # the oracle replays the nonzero split + interval lag and sums the
    # unrolled SES weights of BOTH sequences in one aggregate;
    # alpha = 0.25 so 1-a = 0.75 and the SBA factor 1 - a/2 = 0.875
    # are exact dyadic doubles in both engines.
    _ses_w = (
        "CASE WHEN i = 1 THEN pow(0.75, kk.k - 1) "
        "ELSE 0.25 * pow(0.75, kk.k - i) END"
    )
    o["forecast_croston"] = (
        "WITH r AS (SELECT user_id, ts, "
        "CASE WHEN CAST(FLOOR(value) AS BIGINT) % 3 = 0 THEN 0.0 "
        "ELSE CAST(value AS DOUBLE) END AS y, "
        "row_number() OVER (PARTITION BY user_id ORDER BY ts) AS t "
        "FROM events), "
        "cut AS (SELECT user_id, MAX(ts) AS low FROM r GROUP BY user_id), "
        "nz AS (SELECT user_id, y AS z, CAST(t - COALESCE(lag(t) OVER "
        "(PARTITION BY user_id ORDER BY t), 0) AS DOUBLE) AS p, "
        "row_number() OVER (PARTITION BY user_id ORDER BY t) AS i "
        "FROM r WHERE y != 0.0), "
        "kk AS (SELECT user_id, MAX(i) AS k FROM nz GROUP BY user_id), "
        f"lv AS (SELECT nz.user_id, SUM({_ses_w} * z) AS lz, "
        f"SUM({_ses_w} * p) AS lp FROM nz JOIN kk "
        "ON nz.user_id = kk.user_id GROUP BY nz.user_id) "
        "SELECT c.user_id, c.low + g.s * INTERVAL '1 hour' AS ts, "
        + _r("COALESCE(0.875 * lv.lz / lv.lp, 0.0)")
        + " AS value FROM cut c LEFT JOIN lv ON c.user_id = lv.user_id, "
        "generate_series(1, 3) AS g(s) ORDER BY c.user_id, ts"
    )

    # forecast_ses (r10): the engine folds the SES recursion over each
    # entity's time-sorted array; the oracle sums its unrolled weights
    # (alpha = 0.5: every weight is a dyadic rational).
    o["forecast_ses"] = (
        "WITH r AS (SELECT user_id, ts, CAST(value AS DOUBLE) AS y, "
        "row_number() OVER (PARTITION BY user_id ORDER BY ts) AS t "
        "FROM events), "
        "nn AS (SELECT user_id, MAX(t) AS n, MAX(ts) AS low FROM r "
        "GROUP BY user_id), "
        "lv AS (SELECT r.user_id, SUM(CASE WHEN r.t = 1 THEN "
        "pow(0.5, nn.n - 1) ELSE 0.5 * pow(0.5, nn.n - r.t) END * r.y) "
        "AS l FROM r JOIN nn ON nn.user_id = r.user_id "
        "GROUP BY r.user_id) "
        "SELECT lv.user_id, nn.low + g.s * INTERVAL '1 hour' AS ts, "
        + _r("lv.l")
        + " AS value FROM lv JOIN nn ON nn.user_id = lv.user_id, "
        "generate_series(1, 3) AS g(s) ORDER BY lv.user_id, ts"
    )

    o["forecast_snaive"] = (
        "WITH c AS (SELECT user_id, MAX(ts) AS low, list(value ORDER BY ts) AS vs "
        "FROM events GROUP BY user_id), "
        "c2 AS (SELECT user_id, low, CASE WHEN len(vs) >= 7 THEN vs[-7:] ELSE vs END AS tail FROM c) "
        f"SELECT user_id, low + (s + 1) * INTERVAL '1 hour' AS ts, "
        f"{_r('tail[(s % len(tail)) + 1]')} AS value "
        "FROM c2, generate_series(0, 9) AS g(s) ORDER BY user_id, ts"
    )

    o["dedup_exact"] = (
        "SELECT MIN(doc_id) AS doc_id, COUNT(*) AS n_copies "
        "FROM documents GROUP BY text ORDER BY doc_id"
    )

    o["text_stats"] = (
        "WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS words FROM documents) "
        "SELECT doc_id, CAST(length(text) AS INT) AS n_chars, "
        "CAST(len(words) AS INT) AS n_words, "
        "CAST(len(list_distinct(words)) AS INT) AS n_unique_words, "
        + _r("len(list_distinct(words)) / CAST(len(words) AS DOUBLE)")
        + " AS ttr FROM t ORDER BY doc_id"
    )

    # text_fingerprint: the polynomial codepoint fold replayed with
    # list_reduce over each 16-char substring (unnested to rows).
    _POLY = (
        "list_reduce(list_prepend(CAST(0 AS BIGINT), "
        "[CAST(ascii(c) AS BIGINT) FOR c IN string_split({s}, '')]), "
        "(a, b) -> (a * 131 + b) % 2147483647)"
    )
    o["text_fingerprint"] = (
        "WITH subs AS (SELECT doc_id, text, unnest([substr(text, i, 16) "
        "FOR i IN range(1, greatest(length(text) - 15, 1) + 1)]) AS sub "
        "FROM documents), "
        f"h AS (SELECT doc_id, {_POLY.format(s='sub')} AS hh FROM subs), "
        "mm AS (SELECT doc_id, MIN(hh) AS fp_min, MAX(hh) AS fp_max FROM h GROUP BY doc_id) "
        f"SELECT d.doc_id, mm.fp_min, mm.fp_max, {_POLY.format(s='d.text')} AS fp_full "
        "FROM documents d JOIN mm USING (doc_id) ORDER BY doc_id"
    )

    # media_features: replay the sha256-chained fake decoder
    # (multimodal._fake_decode) — component j of doc d is
    # int(sha256(hex(sha256(text)) || '-' || j)[:6], 16) / 2^23 - 1,
    # float32-exact by construction so the hash compare is byte-level.
    o["media_features"] = (
        "WITH base AS (SELECT doc_id, sha256(COALESCE(text, '')) AS h FROM documents), "
        "feat AS (SELECT doc_id, CAST(t.j AS INT) AS j, "
        "list_sum(list_transform(range(0, 6), i -> "
        "(strpos('0123456789abcdef', substr(sha256(h || '-' || t.j), i + 1, 1)) - 1) "
        "* (1::BIGINT << (4 * (5 - i))))) / 8388608.0 - 1.0 AS v "
        "FROM base, range(0, 16) t(j)) "
        "SELECT doc_id AS media_id, j, " + _r("v") + " AS v FROM feat ORDER BY media_id, j"
    )

    # media_resize: the fake codec's "resized" payload is
    # sha256(hex(sha256(payload)) || '-WxH'); DuckDB's sha256 returns
    # the hex digest directly, which equals hex(raw digest) on the
    # Spark side
    o["media_resize"] = (
        "SELECT doc_id AS media_id, 'image' AS kind, "
        "sha256(sha256(COALESCE(text, '')) || '-32x32') AS payload_hex, "
        "'{\"width\":32,\"height\":32}' AS meta "
        "FROM documents ORDER BY media_id"
    )

    # media_curate: the REAL-codec curation cascade replayed — the
    # payload construction is a pure function of doc_id (md5 of the
    # five-id group key), so decode drops (% 7), size drops (% 3),
    # min-surviving-id dedup per md5, and the 4-byte-bucket feature
    # means are all plain SQL over the same hex-nibble arithmetic the
    # media_features oracle uses.
    _md5_byte = (
        "(16 * (strpos('0123456789abcdef', substr(h, 2*{i} - 1, 1)) - 1) "
        "+ strpos('0123456789abcdef', substr(h, 2*{i}, 1)) - 1)"
    )
    _curate_surv = (
        "base AS (SELECT doc_id, md5(CAST(doc_id // 5 AS VARCHAR)) AS h "
        "FROM documents), "
        "surv AS (SELECT doc_id, h FROM base "
        "WHERE doc_id % 7 != 0 AND doc_id % 3 != 0), "
        "keep AS (SELECT MIN(doc_id) AS media_id, h FROM surv GROUP BY h)"
    )
    o["media_curate"] = (
        f"WITH {_curate_surv} "
        "SELECT media_id, CAST(4 AS BIGINT) AS width, "
        "CAST(4 AS BIGINT) AS height, CAST(t.j AS INT) AS j, "
        + _r(
            "(" + " + ".join(
                _md5_byte.format(i=f"(4*t.j + {k})") for k in (1, 2, 3, 4)
            ) + ") / 4.0"
        )
        + " AS v FROM keep, range(0, 4) t(j) ORDER BY media_id, j"
    )
    # media_gif_decode / media_png_roundtrip: the REAL-codec encode ->
    # decode round-trips (encode_gif's variable-width LZW, encode_png's
    # filtered zlib scanlines) — the payload pixels are pure functions
    # of doc_id, and the dim-per-pixel pooling makes each gate value
    # the decoded pixel itself, so the oracle replays the pixel formula
    # in plain SQL. Any bit the codec pair drops or shifts flips the
    # value hash.
    o["media_gif_decode"] = (
        "SELECT doc_id AS media_id, CAST(t.j AS INT) AS j, "
        + _r("CAST(85 * ((doc_id * 31 + t.j * 7) % 4) AS DOUBLE)")
        + " AS v FROM documents, range(0, 48) t(j) "
        "WHERE doc_id % 17 = 0 ORDER BY media_id, j"
    )
    o["media_png_roundtrip"] = (
        "SELECT doc_id AS media_id, CAST(t.j AS INT) AS j, "
        + _r("CAST((doc_id * 13 + t.j * 11) % 251 AS DOUBLE)")
        + " AS v FROM documents, range(0, 45) t(j) "
        "WHERE doc_id % 13 = 0 ORDER BY media_id, j"
    )
    o["media_tiff_roundtrip"] = (
        "SELECT doc_id AS media_id, CAST(t.j AS INT) AS j, "
        + _r("CAST((doc_id * 17 + t.j * 29) % 256 AS DOUBLE)")
        + " AS v FROM documents, range(0, 60) t(j) "
        "WHERE doc_id % 19 = 0 ORDER BY media_id, j"
    )

    # media_dhash / media_dhash_dedup (r9): the perceptual dHash
    # replayed BYTE-COMPARE BY BYTE-COMPARE — the 4x4 source resizes
    # to 9x8 with src = min((i*4)//dst, 3), so each of the 64 bits
    # compares two CONCRETE md5-byte indexes (computed here at
    # SQL-generation time); bits whose two indexes coincide are
    # constant 0 and drop out. Packing weight 2^(y*8+x) (idx 63 would
    # be two's-complement negative, but its indexes coincide for a
    # 4x4 source).
    def _dhash_terms(pbyte) -> str:
        terms = []
        for y in range(8):
            for x in range(8):
                jl = 4 * (y // 2) + min((4 * x) // 9, 3)
                jr = 4 * (y // 2) + min((4 * (x + 1)) // 9, 3)
                if jl == jr:
                    continue
                idx = y * 8 + x
                w = -(2**63) if idx == 63 else 2**idx
                terms.append(
                    f"CASE WHEN {pbyte(jr)} > {pbyte(jl)} "
                    f"THEN CAST({w} AS BIGINT) ELSE 0 END"
                )
        return " + ".join(terms)

    _pb = lambda j: _md5_byte.format(i=j + 1)  # noqa: E731
    _pb_group = (  # last pixel overridden to (doc_id % 5) * 40
        lambda j: "((doc_id % 5) * 40)" if j == 15 else _md5_byte.format(i=j + 1)
    )
    o["media_dhash"] = (
        "WITH m AS (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h "
        "FROM documents) "
        f"SELECT doc_id AS media_id, ({_dhash_terms(_pb)}) AS phash "
        "FROM m ORDER BY media_id"
    )
    o["media_dhash_dedup"] = (
        "WITH m AS (SELECT doc_id, md5(CAST(doc_id // 5 AS VARCHAR)) AS h "
        "FROM documents), "
        f"sig AS (SELECT doc_id, ({_dhash_terms(_pb_group)}) AS phash FROM m), "
        "banded AS (SELECT doc_id, phash, t.band, "
        "(phash >> (t.band * 16)) & 65535 AS band_val "
        "FROM sig, (SELECT unnest(range(0, 4)) AS band) t), "
        "capped AS (SELECT * FROM (SELECT *, COUNT(*) OVER "
        "(PARTITION BY band, band_val) AS bsz FROM banded) WHERE bsz <= 512), "
        "pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, "
        "CAST(bit_count(xor(a.phash, b.phash)) AS INT) AS hamming "
        "FROM capped a JOIN capped b ON a.band = b.band "
        "AND a.band_val = b.band_val AND a.doc_id < b.doc_id) "
        "SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= 4 "
        "ORDER BY id_a, id_b"
    )
    # media_dhash_incr (r10): the SAME signature formula split into an
    # even-id store and an odd-id batch; bucket caps apply PER SIDE
    # (matching the operator's _cap_buckets on each banded frame),
    # new-vs-new needs id_a < id_b, new-vs-store any order, and
    # store-vs-store pairs never appear.
    o["media_dhash_incr"] = (
        "WITH m AS (SELECT doc_id, md5(CAST(doc_id // 5 AS VARCHAR)) AS h "
        "FROM documents), "
        f"sig AS (SELECT doc_id, ({_dhash_terms(_pb_group)}) AS phash FROM m), "
        "banded AS (SELECT doc_id, phash, t.band, "
        "(phash >> (t.band * 16)) & 65535 AS band_val "
        "FROM sig, (SELECT unnest(range(0, 4)) AS band) t), "
        "cn AS (SELECT * FROM (SELECT *, COUNT(*) OVER "
        "(PARTITION BY band, band_val) AS bsz FROM banded "
        "WHERE doc_id % 2 = 1) WHERE bsz <= 512), "
        "co AS (SELECT * FROM (SELECT *, COUNT(*) OVER "
        "(PARTITION BY band, band_val) AS bsz FROM banded "
        "WHERE doc_id % 2 = 0) WHERE bsz <= 512), "
        "pairs AS ("
        "SELECT a.doc_id AS id_a, b.doc_id AS id_b, "
        "CAST(bit_count(xor(a.phash, b.phash)) AS INT) AS hamming "
        "FROM cn a JOIN cn b ON a.band = b.band "
        "AND a.band_val = b.band_val AND a.doc_id < b.doc_id "
        "UNION "
        "SELECT a.doc_id, b.doc_id, "
        "CAST(bit_count(xor(a.phash, b.phash)) AS INT) "
        "FROM cn a JOIN co b ON a.band = b.band "
        "AND a.band_val = b.band_val) "
        "SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= 4 "
        "ORDER BY id_a, id_b"
    )
    # media_exif (r10): planted-structure ground truth (the
    # domain_stats convention) — the Spark side must recover every
    # field from REAL JPEG/APP1/TIFF-IFD bytes it wrote itself; the
    # oracle recomputes the planted values straight from doc_id.
    _exif_dt = (
        "'2024:' || lpad(CAST(1 + doc_id % 12 AS VARCHAR), 2, '0') || "
        "':' || lpad(CAST(1 + doc_id % 28 AS VARCHAR), 2, '0')"
    )
    o["media_exif"] = (
        "SELECT doc_id AS media_id, "
        "CASE WHEN doc_id % 33 = 0 THEN NULL "
        "ELSE 'Cam' || CAST(doc_id % 5 AS VARCHAR) END AS exif_make, "
        "CASE WHEN doc_id % 33 = 0 THEN NULL "
        "ELSE 'M-' || CAST(doc_id % 3 AS VARCHAR) END AS exif_model, "
        "CASE WHEN doc_id % 33 = 0 THEN NULL "
        "ELSE CAST(1 + doc_id % 8 AS INT) END AS exif_orientation, "
        f"CASE WHEN doc_id % 33 = 0 THEN NULL ELSE {_exif_dt} || "
        "' 12:00:00' END AS exif_datetime, "
        "CASE WHEN doc_id % 33 = 0 OR doc_id % 2 = 1 THEN NULL ELSE "
        f"{_exif_dt} || ' 13:00:00' END AS exif_datetime_original, "
        "CASE WHEN doc_id % 33 = 0 THEN NULL "
        "ELSE doc_id % 4 = 0 END AS exif_has_gps "
        "FROM documents WHERE doc_id % 11 = 0 ORDER BY media_id"
    )

    # media_orientation (r10): the EXIF 2.3 orientation transforms
    # replayed as pure index permutations — upright pixel (yo, xo)
    # pulls stored pixel (r, c) per the row0/col0 definitions (stored
    # 4x5; orientations 5-8 swap the output dims). The Spark side goes
    # through real TIFF tag-274 bytes, a numpy transform, and a
    # lossless re-encode->decode; this is the arithmetic it must land
    # on.
    o["media_orientation"] = (
        "WITH d AS (SELECT doc_id, 1 + doc_id % 8 AS o FROM documents "
        "WHERE doc_id % 13 = 0), "
        "g AS (SELECT doc_id, o, "
        "CASE WHEN o <= 4 THEN 5 ELSE 4 END AS w, t.j AS j "
        "FROM d, range(0, 20) t(j)), "
        "m AS (SELECT doc_id, o, j, j // w AS yo, j % w AS xo FROM g), "
        "x AS (SELECT doc_id, o, j, "
        "CASE o WHEN 1 THEN yo WHEN 2 THEN yo WHEN 3 THEN 3 - yo "
        "WHEN 4 THEN 3 - yo WHEN 5 THEN xo WHEN 6 THEN 3 - xo "
        "WHEN 7 THEN 3 - xo ELSE xo END AS r, "
        "CASE o WHEN 1 THEN xo WHEN 2 THEN 4 - xo WHEN 3 THEN 4 - xo "
        "WHEN 4 THEN xo WHEN 5 THEN yo WHEN 6 THEN yo "
        "WHEN 7 THEN 4 - yo ELSE 4 - yo END AS c FROM m) "
        "SELECT doc_id AS media_id, CAST(o AS INT) AS orientation, "
        "CAST(CASE WHEN o <= 4 THEN 5 ELSE 4 END AS BIGINT) AS width, "
        "CAST(CASE WHEN o <= 4 THEN 4 ELSE 5 END AS BIGINT) AS height, "
        "CAST(j AS INT) AS j, "
        + _r("CAST((doc_id * 23 + (r * 5 + c) * 31) % 256 AS DOUBLE)")
        + " AS v FROM x ORDER BY media_id, j"
    )

    # media_audio: the time-domain audio features replayed from the
    # SAME integer PCM formula the Spark query packs into real WAV
    # bytes — duration = n/rate exactly, rms over v/32768, zcr as the
    # sign-flip rate of consecutive samples (numpy signbit: v < 0).
    _aud = (
        "samples AS (SELECT doc_id, t.i AS i, "
        "CAST(CASE WHEN u < 32768 THEN u ELSE u - 65536 END AS DOUBLE) "
        "/ 32768.0 AS x FROM (SELECT doc_id, t.i, "
        "(doc_id * 7919 + t.i * 104729) % 65536 AS u "
        "FROM documents, range(0, 1000) t(i)) t(doc_id, i, u)), "
        "flips AS (SELECT doc_id, AVG(CASE WHEN (x < 0) != (px < 0) "
        "THEN 1.0 ELSE 0.0 END) AS zcr FROM (SELECT doc_id, x, "
        "lag(x) OVER (PARTITION BY doc_id ORDER BY i) AS px FROM samples) "
        "WHERE px IS NOT NULL GROUP BY doc_id)"
    )
    o["media_audio"] = (
        f"WITH {_aud} "
        "SELECT s.doc_id AS media_id, 0.125 AS duration_s, "
        + _r("sqrt(AVG(s.x * s.x))") + " AS rms, "
        + _r("MAX(f.zcr)") + " AS zero_crossing_rate "
        "FROM samples s JOIN flips f ON s.doc_id = f.doc_id "
        "GROUP BY s.doc_id ORDER BY media_id"
    )

    # media_audio_resample (r9): the linear-interpolation rate
    # normalization replayed — output position p_j = (j*8000)/5000
    # (exact double division both engines), two-point interpolation on
    # the integer PCM formula, floor(y + 0.5) int16 quantization (the
    # operator quantizes with floor(+0.5), not round(), precisely so
    # this replay has no tie-behavior divergence).
    o["media_audio_resample"] = (
        "WITH s AS (SELECT doc_id, t.i AS i, "
        "CAST(CASE WHEN u < 32768 THEN u ELSE u - 65536 END AS DOUBLE) "
        "AS x FROM (SELECT doc_id, t.i, "
        "(doc_id * 7919 + t.i * 104729) % 65536 AS u "
        "FROM documents, range(0, 1000) t(i) "
        "WHERE doc_id % 23 = 0) t(doc_id, i, u)), "
        "g AS (SELECT doc_id, CAST(t.j AS INT) AS j, "
        "(t.j * 8000.0) / 5000.0 AS p FROM documents, range(0, 625) t(j) "
        "WHERE doc_id % 23 = 0), "
        "y AS (SELECT g.doc_id, g.j, "
        "x0.x + (g.p - FLOOR(g.p)) * (x1.x - x0.x) AS yv "
        "FROM g JOIN s x0 ON x0.doc_id = g.doc_id "
        "AND x0.i = CAST(FLOOR(g.p) AS BIGINT) "
        "JOIN s x1 ON x1.doc_id = g.doc_id "
        "AND x1.i = LEAST(CAST(FLOOR(g.p) AS BIGINT) + 1, 999)) "
        "SELECT doc_id AS media_id, j, "
        + _r("GREATEST(-32768.0, LEAST(32767.0, FLOOR(yv + 0.5)))")
        + " AS v FROM y ORDER BY media_id, j"
    )

    # media_audio_spectral: the WHOLE FFT-tier spectral family replayed
    # as an explicit DFT double sum over BOTH Hann-windowed frames
    # (starts 0 and 256 for n=1000, n_fft=512, hop=256), on the
    # doc_id % 29 subsample. np.hanning(512) is the SYMMETRIC window
    # (denominator 511); freqs_k = k*rate/512. Per frame: centroid
    # sum(p*f)/(sum(p)+1e-12); bandwidth sqrt(sum(p*(f-c)^2)/
    # (sum(p)+1e-12)); rolloff = f at the first running-cumsum(p) >=
    # 0.85 * final cumsum (MAX of the running sum reproduces numpy's
    # cum[:, -1] bit-for-bit — same left-to-right summation order);
    # flatness exp(avg(ln(p+1e-12)))/(avg(p)+1e-12). Frame means,
    # 4-decimal round (naive-DFT vs numpy-FFT summation order).
    # shared DFT CTE chain (samples -> Hann windows -> cos/sin sums ->
    # power/freq table) for BOTH audio FFT-tier oracles — one copy so
    # the two gates can never verify diverging spectra
    _aud_spec_ctes = (
        "samples AS (SELECT doc_id, t.i AS i, "
        "CAST(CASE WHEN u < 32768 THEN u ELSE u - 65536 END AS DOUBLE) "
        "/ 32768.0 AS x FROM (SELECT doc_id, t.i, "
        "(doc_id * 7919 + t.i * 104729) % 65536 AS u "
        "FROM documents, range(0, 1000) t(i) "
        "WHERE doc_id % 29 = 0) t(doc_id, i, u)), "
        "win AS (SELECT s.doc_id, fr.s AS fr, s.i - fr.s AS j, "
        "s.x * (0.5 - 0.5*cos(2*pi()*(s.i - fr.s)/511.0)) AS y "
        "FROM samples s JOIN (VALUES (0), (256)) fr(s) "
        "ON s.i >= fr.s AND s.i < fr.s + 512), "
        "spec AS (SELECT w.doc_id, w.fr, ks.k, "
        "SUM(w.y * cos(2*pi()*ks.k*w.j/512.0)) AS re, "
        "SUM(w.y * sin(2*pi()*ks.k*w.j/512.0)) AS im "
        "FROM win w, range(0, 257) ks(k) GROUP BY 1, 2, 3), "
        "pf AS (SELECT doc_id, fr, k, (re*re + im*im) AS p, "
        "k * 8000.0/512.0 AS f FROM spec)"
    )
    o["media_audio_spectral"] = (
        f"WITH {_aud_spec_ctes}, "
        "fs AS (SELECT doc_id, fr, SUM(p) AS sp, SUM(p*f) AS spf, "
        "AVG(ln(p + 1e-12)) AS mlog, AVG(p) AS mp FROM pf GROUP BY 1, 2), "
        "cf AS (SELECT doc_id, fr, sp, spf / (sp + 1e-12) AS c, "
        "exp(mlog) / (mp + 1e-12) AS flat FROM fs), "
        "bwf AS (SELECT pf.doc_id, pf.fr, "
        "sqrt(SUM(pf.p * (pf.f - cf.c) * (pf.f - cf.c)) "
        "/ (MAX(cf.sp) + 1e-12)) AS bw "
        "FROM pf JOIN cf USING (doc_id, fr) GROUP BY 1, 2), "
        "cum AS (SELECT doc_id, fr, k, f, "
        "SUM(p) OVER (PARTITION BY doc_id, fr ORDER BY k) AS cp FROM pf), "
        "cum2 AS (SELECT *, MAX(cp) OVER (PARTITION BY doc_id, fr) AS tp "
        "FROM cum), "
        "rollf AS (SELECT doc_id, fr, "
        "MIN(CASE WHEN cp >= 0.85 * tp THEN f END) AS rf "
        "FROM cum2 GROUP BY 1, 2), "
        "perfr AS (SELECT cf.doc_id, cf.fr, cf.c, cf.flat, bwf.bw, rollf.rf "
        "FROM cf JOIN bwf USING (doc_id, fr) JOIN rollf USING (doc_id, fr)) "
        "SELECT doc_id AS media_id, "
        "ROUND(CAST(AVG(c) AS DOUBLE) + 1e-9, 4) AS spectral_centroid_hz, "
        "ROUND(CAST(AVG(bw) AS DOUBLE) + 1e-9, 4) AS spectral_bandwidth_hz, "
        "ROUND(CAST(AVG(rf) AS DOUBLE) + 1e-9, 4) AS spectral_rolloff_hz, "
        "ROUND(CAST(AVG(flat) AS DOUBLE) + 1e-9, 4) AS spectral_flatness "
        "FROM perfr GROUP BY doc_id ORDER BY media_id"
    )

    # media_audio_mfcc: the 13 MFCCs replayed end-to-end — mel
    # filterbank rebuilt from the formula (28 linspace mel points,
    # hz inversion, floor bin triangles), log-mel energies over the
    # SAME shared DFT CTE chain as media_audio_spectral, orthonormal
    # DCT-II, frame mean.
    o["media_audio_mfcc"] = (
        f"WITH {_aud_spec_ctes}, "
        # 28 mel points -> hz -> FFT bin indices (floor)
        "bpts AS (SELECT i, CAST(FLOOR(513.0 * (700.0 * "
        "(POW(10.0, (i * ((2595.0 * log10(1.0 + 4000.0/700.0)) / 27.0)) "
        "/ 2595.0) - 1.0)) / 8000.0) AS INT) AS b "
        "FROM range(0, 28) t(i)), "
        # triangular weights fb[mi, k] over (lo, mid, hi) = bins[mi..mi+2]
        "melw AS (SELECT mi, k, w FROM ("
        "SELECT m.i AS mi, k.k AS k, "
        "CASE WHEN k.k >= lo.b AND k.k < md.b AND md.b > lo.b "
        "THEN CAST(k.k - lo.b AS DOUBLE) / (md.b - lo.b) "
        "WHEN k.k >= md.b AND k.k < hi.b AND hi.b > md.b "
        "THEN CAST(hi.b - k.k AS DOUBLE) / (hi.b - md.b) "
        "ELSE 0.0 END AS w "
        "FROM range(0, 26) m(i), range(0, 257) k(k) "
        "JOIN bpts lo ON lo.i = m.i "
        "JOIN bpts md ON md.i = m.i + 1 "
        "JOIN bpts hi ON hi.i = m.i + 2) WHERE w <> 0.0), "
        "mele AS (SELECT pf.doc_id, pf.fr, m.mi, "
        "ln(SUM(pf.p * m.w) + 1e-10) AS le "
        "FROM pf JOIN melw m ON m.k = pf.k GROUP BY 1, 2, 3), "
        # orthonormal DCT-II over the mel axis
        "dctm AS (SELECT c.c, i.i, "
        "cos(pi() * c.c * (2*i.i + 1) / 52.0) * sqrt(2.0/26.0) "
        "* (CASE WHEN c.c = 0 THEN 1.0/sqrt(2.0) ELSE 1.0 END) AS dv "
        "FROM range(0, 13) c(c), range(0, 26) i(i)), "
        "mf AS (SELECT e.doc_id, e.fr, d.c, SUM(e.le * d.dv) AS v "
        "FROM mele e JOIN dctm d ON d.i = e.mi GROUP BY 1, 2, 3) "
        "SELECT doc_id AS media_id, CAST(c AS INT) AS c, "
        "ROUND(CAST(AVG(v) AS DOUBLE) + 1e-9, 3) AS mfcc "
        "FROM mf GROUP BY doc_id, c ORDER BY media_id, c"
    )

    _audup_ctes = (
        "grp AS (SELECT DISTINCT doc_id % 5 AS g FROM documents "
        "WHERE doc_id % 13 = 0), "
        "samples AS (SELECT g, i, "
        "CAST(CASE WHEN u < 32768 THEN u ELSE u - 65536 END AS DOUBLE) "
        "/ 32768.0 AS x FROM (SELECT grp.g, t.i, "
        "(t.i * (104729 + 2741 * grp.g)) % 65536 AS u "
        "FROM grp, range(0, 1000) t(i)) t(g, i, u)), "
        "win AS (SELECT s.g, fr.s AS fr, s.i - fr.s AS j, "
        "s.x * (0.5 - 0.5*cos(2*pi()*(s.i - fr.s)/511.0)) AS y "
        "FROM samples s JOIN (VALUES (0), (256)) fr(s) "
        "ON s.i >= fr.s AND s.i < fr.s + 512), "
        "spec AS (SELECT w.g, w.fr, ks.k, "
        "SUM(w.y * cos(2*pi()*ks.k*w.j/512.0)) AS re, "
        "SUM(w.y * sin(2*pi()*ks.k*w.j/512.0)) AS im "
        "FROM win w, range(1, 256) ks(k) GROUP BY 1, 2, 3), "
        "mag AS (SELECT g, fr, k, sqrt(re*re + im*im) AS m, "
        "(k * 8) // 256 AS band FROM spec), "
        "thr AS (SELECT g, fr, AVG(m) AS thr FROM mag GROUP BY 1, 2), "
        "rk AS (SELECT g, fr, band, k, m, row_number() OVER "
        "(PARTITION BY g, fr, band ORDER BY m DESC, k ASC) AS rn "
        "FROM mag), "
        "peaks AS (SELECT rk.g, rk.fr, rk.k FROM rk "
        "JOIN thr ON thr.g = rk.g AND thr.fr = rk.fr "
        "WHERE rk.rn = 1 AND rk.m > thr.thr), "
        "lm AS (SELECT a.g, a.k * 1048576 + b.k * 256 + 1 AS h "
        "FROM (SELECT g, k FROM peaks WHERE fr = 0) a "
        "JOIN (SELECT g, k, row_number() OVER "
        "(PARTITION BY g ORDER BY k) AS rn "
        "FROM peaks WHERE fr = 256) b ON b.g = a.g AND b.rn <= 3), "
        "cnt AS (SELECT g, COUNT(*) AS n_matches FROM lm GROUP BY g)"
    )
    # media_audio_dups (r11): the Shazam-style constellation dedup
    # replayed END-TO-END. The doc_id % 13 subsample carries 5 group
    # signals (slope-varied sawtooths, one per doc_id % 5), so the DFT
    # replay is 5 groups x 2 frames x 255 bins. Chain: Hann DFT ->
    # magnitude -> per-(frame) mean threshold -> per-subband argmax
    # (row_number mag DESC, k ASC = numpy argmax-first) kept only above
    # threshold -> landmarks = frame-0 anchors x the first 3 (k ASC)
    # frame-256 peaks, hash f1*2^20 + f2*2^8 + dt (dt=1 is the only
    # live offset at n=1000: frames start at 0 and 256 only) -> pair
    # count = the group's landmark count (byte-identical clips) for
    # every a<b doc pair in the group, >= 5 filter. qbin == k exactly
    # at rate 8000 / win_s 0.064 (bin width = 1/win_s); all argmax /
    # threshold margins >= 8e-3 vs ~1e-12 DFT-vs-FFT noise.
    o["media_audio_dups"] = (
        f"WITH {_audup_ctes}, "
        "docs2 AS (SELECT doc_id, doc_id % 5 AS g FROM documents "
        "WHERE doc_id % 13 = 0) "
        "SELECT a.doc_id AS id_a, b.doc_id AS id_b, c.n_matches "
        "FROM docs2 a JOIN docs2 b ON a.g = b.g AND a.doc_id < b.doc_id "
        "JOIN cnt c ON c.g = a.g WHERE c.n_matches >= 5 "
        "ORDER BY id_a, id_b"
    )

    # media_audio_dups_incr (r11): the incremental-store twin — the
    # SAME group-signal DFT replay (byte-identical group clips mean
    # every pair's n_matches is the group's landmark count), with the
    # pair population split by the store convention: new-vs-new
    # (id_a < id_b among doc_id % 26 != 0) plus new-vs-store (new id
    # first, any order), store-vs-store excluded.
    o["media_audio_dups_incr"] = (
        f"WITH {_audup_ctes}, "
        "docs2 AS (SELECT doc_id, doc_id % 5 AS g, "
        "doc_id % 26 = 0 AS in_store FROM documents "
        "WHERE doc_id % 13 = 0), "
        "prs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.g "
        "FROM docs2 a JOIN docs2 b ON a.g = b.g "
        "AND NOT a.in_store AND NOT b.in_store "
        "AND a.doc_id < b.doc_id "
        "UNION ALL SELECT a.doc_id, b.doc_id, a.g "
        "FROM docs2 a JOIN docs2 b ON a.g = b.g "
        "AND NOT a.in_store AND b.in_store) "
        "SELECT p.id_a, p.id_b, c.n_matches FROM prs p "
        "JOIN cnt c ON c.g = p.g WHERE c.n_matches >= 5 "
        "ORDER BY id_a, id_b"
    )

    # media_audio_dups_offset (r11): the full Wang 2003 offset-voting
    # rule replayed over 15 leading-silence variants (g = doc_id % 5
    # slope signals, pad = doc_id % 3 hops of zeros). Frames are
    # indexed t = start/256 with start + 512 <= clip length (2-4
    # frames per variant; all-zero frames yield no peaks since no
    # magnitude exceeds the zero mean strictly). Landmarks replay the
    # anchor fanout EXACTLY: per anchor (variant, t, f1), candidates
    # are later-frame peaks within dt <= 3 ordered (dt, f2), first 3
    # kept (row_number). Votes: shared hashes between two docs' (g,pd)
    # variants counted per offset t_a - t_b; each pair keeps its
    # (count DESC, offset ASC) argmax row, >= 5 filter.
    o["media_audio_dups_offset"] = (
        "WITH vg AS (SELECT DISTINCT doc_id % 5 AS g, doc_id % 3 AS pd "
        "FROM documents WHERE doc_id % 13 = 0), "
        "samples AS (SELECT g, pd, i, "
        "CAST(CASE WHEN u < 32768 THEN u ELSE u - 65536 END AS DOUBLE) "
        "/ 32768.0 AS x FROM (SELECT vg.g, vg.pd, t.i, "
        "CASE WHEN t.i < vg.pd * 256 THEN 0 ELSE "
        "((t.i - vg.pd * 256) * (104729 + 2741 * vg.g)) % 65536 END AS u "
        "FROM vg, range(0, 1512) t(i) "
        "WHERE t.i < 1000 + vg.pd * 256) t(g, pd, i, u)), "
        "win AS (SELECT s.g, s.pd, ft.t, s.i - ft.t * 256 AS j, "
        "s.x * (0.5 - 0.5*cos(2*pi()*(s.i - ft.t * 256)/511.0)) AS y "
        "FROM samples s JOIN (VALUES (0), (1), (2), (3)) ft(t) "
        "ON s.i >= ft.t * 256 AND s.i < ft.t * 256 + 512 "
        "AND ft.t * 256 + 512 <= 1000 + s.pd * 256), "
        "spec AS (SELECT w.g, w.pd, w.t, ks.k, "
        "SUM(w.y * cos(2*pi()*ks.k*w.j/512.0)) AS re, "
        "SUM(w.y * sin(2*pi()*ks.k*w.j/512.0)) AS im "
        "FROM win w, range(1, 256) ks(k) GROUP BY 1, 2, 3, 4), "
        "mag AS (SELECT g, pd, t, k, sqrt(re*re + im*im) AS m, "
        "(k * 8) // 256 AS band FROM spec), "
        "thr AS (SELECT g, pd, t, AVG(m) AS thr FROM mag "
        "GROUP BY 1, 2, 3), "
        "rk AS (SELECT g, pd, t, band, k, m, row_number() OVER "
        "(PARTITION BY g, pd, t, band ORDER BY m DESC, k ASC) AS rn "
        "FROM mag), "
        "peaks AS (SELECT rk.g, rk.pd, rk.t, rk.k FROM rk "
        "JOIN thr ON thr.g = rk.g AND thr.pd = rk.pd AND thr.t = rk.t "
        "WHERE rk.rn = 1 AND rk.m > thr.thr), "
        "cand AS (SELECT a.g, a.pd, a.t, a.k AS f1, b.k AS f2, "
        "b.t - a.t AS dt, row_number() OVER "
        "(PARTITION BY a.g, a.pd, a.t, a.k ORDER BY b.t - a.t, b.k) "
        "AS rn FROM peaks a JOIN peaks b ON b.g = a.g AND b.pd = a.pd "
        "AND b.t > a.t AND b.t <= a.t + 3), "
        "lm AS (SELECT DISTINCT g, pd, t, "
        "f1 * 1048576 + f2 * 256 + dt AS h FROM cand WHERE rn <= 3), "
        "docs2 AS (SELECT doc_id, doc_id % 5 AS g, doc_id % 3 AS pd "
        "FROM documents WHERE doc_id % 13 = 0), "
        "votes AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, "
        "la.t - lb.t AS voff, COUNT(*) AS n_matches "
        "FROM docs2 a JOIN docs2 b ON a.g = b.g AND a.doc_id < b.doc_id "
        "JOIN lm la ON la.g = a.g AND la.pd = a.pd "
        "JOIN lm lb ON lb.g = b.g AND lb.pd = b.pd AND lb.h = la.h "
        "GROUP BY 1, 2, 3), "
        "best AS (SELECT id_a, id_b, voff, n_matches, row_number() "
        "OVER (PARTITION BY id_a, id_b ORDER BY n_matches DESC, voff) "
        "AS rn FROM votes) "
        "SELECT id_a, id_b, CAST(voff AS BIGINT) AS \"offset\", "
        "n_matches FROM best WHERE rn = 1 AND n_matches >= 5 "
        "ORDER BY id_a, id_b"
    )

    # media_video_dups (r11): the video dedup triad member replayed
    # with ZERO pixel decode — the gate's margin-verified level-walk
    # construction makes every frame's dHash equal its DESIGNED bits,
    # so the oracle works entirely on 64-row bit tables per frame
    # class: mix bit b(G,J,y,x) -> prefix-sum level walk l = (x +
    # sum(b over i<x)) % 3 -> dhash bit = lead(l) > l -> per-class-
    # pair band comparison (a 16-bit band is shared iff its 16 bit
    # positions all agree) + hamming = total bit mismatches ->
    # candidate class pairs (shared band AND ham <= 6) -> frame-level
    # offset votes -> (count DESC, offset ASC) argmax per doc pair,
    # >= 4 filter. Frame classes: 4 groups x 6 real frames + the
    # 1001/1002 leading-pad classes (pd extra frames, distinct per
    # pad value).
    o["media_video_dups"] = (
        "WITH cls AS (SELECT g.g AS G, j.j AS J "
        "FROM range(0, 4) g(g), range(0, 6) j(j) "
        "UNION ALL SELECT 1001, 0 UNION ALL SELECT 1002, 0 "
        "UNION ALL SELECT 1002, 1), "
        "bb AS (SELECT c.G, c.J, y.y AS y, x.x AS x, "
        "(strpos('0123456789abcdef', substr(md5(concat("
        "CAST(c.G AS VARCHAR), '-', CAST(c.J AS VARCHAR), '-', "
        "CAST(y.y AS VARCHAR), '-', CAST(x.x AS VARCHAR))), 1, 1)) "
        "- 1) % 2 AS b "
        "FROM cls c, range(0, 8) y(y), range(0, 9) x(x)), "
        "lv AS (SELECT G, J, y, x, (x + COALESCE(SUM(b) OVER "
        "(PARTITION BY G, J, y ORDER BY x ROWS BETWEEN UNBOUNDED "
        "PRECEDING AND 1 PRECEDING), 0)) % 3 AS l FROM bb), "
        "db AS (SELECT G, J, y, x, bit FROM (SELECT G, J, y, x, "
        "CASE WHEN lead(l) OVER (PARTITION BY G, J, y ORDER BY x) > l "
        "THEN 1 ELSE 0 END AS bit FROM lv) WHERE x < 8), "
        "pos AS (SELECT G, J, y*8 + x AS p, bit FROM db), "
        "bandcmp AS (SELECT a.G AS G1, a.J AS J1, b.G AS G2, "
        "b.J AS J2, a.p // 16 AS bi, "
        "SUM(CASE WHEN a.bit != b.bit THEN 1 ELSE 0 END) AS mism "
        "FROM pos a JOIN pos b ON a.p = b.p GROUP BY 1, 2, 3, 4, 5), "
        "cand AS (SELECT G1, J1, G2, J2 FROM (SELECT G1, J1, G2, J2, "
        "SUM(mism) AS ham, MAX(CASE WHEN mism = 0 THEN 1 ELSE 0 END) "
        "AS shared FROM bandcmp GROUP BY 1, 2, 3, 4) "
        "WHERE shared = 1 AND ham <= 6), "
        "docs2 AS (SELECT doc_id, doc_id % 4 AS g, doc_id % 3 AS pd "
        "FROM documents WHERE doc_id % 17 = 0), "
        "vf AS (SELECT d.doc_id, 1000 + d.pd AS G, "
        "CAST(k.k AS INT) AS J, CAST(k.k AS INT) AS idx "
        "FROM docs2 d, range(0, 2) k(k) WHERE k.k < d.pd "
        "UNION ALL SELECT d.doc_id, d.g, CAST(j.j AS INT), "
        "CAST(d.pd + j.j AS INT) FROM docs2 d, range(0, 6) j(j)), "
        "votes AS (SELECT fa.doc_id AS id_a, fb.doc_id AS id_b, "
        "fa.idx - fb.idx AS voff, COUNT(*) AS n_matches "
        "FROM vf fa JOIN vf fb ON fa.doc_id < fb.doc_id "
        "JOIN cand c ON c.G1 = fa.G AND c.J1 = fa.J "
        "AND c.G2 = fb.G AND c.J2 = fb.J GROUP BY 1, 2, 3), "
        "best AS (SELECT id_a, id_b, voff, n_matches, row_number() "
        "OVER (PARTITION BY id_a, id_b ORDER BY n_matches DESC, voff) "
        "AS rn FROM votes) "
        "SELECT id_a, id_b, CAST(voff AS BIGINT) AS \"offset\", "
        "n_matches FROM best WHERE rn = 1 AND n_matches >= 4 "
        "ORDER BY id_a, id_b"
    )

    o["media_curate_report"] = (
        f"WITH {_curate_surv} "
        "SELECT 'decode' AS stage, (SELECT COUNT(*) FROM base) AS rows_in, "
        "(SELECT COUNT(*) FROM base WHERE doc_id % 7 != 0) AS rows_out "
        "UNION ALL SELECT 'size', "
        "(SELECT COUNT(*) FROM base WHERE doc_id % 7 != 0), "
        "(SELECT COUNT(*) FROM surv) "
        "UNION ALL SELECT 'dedup', (SELECT COUNT(*) FROM surv), "
        "(SELECT COUNT(*) FROM keep) "
        "ORDER BY stage"
    )

    # text_gopher: replay every Gopher rule signal with DuckDB
    # list/regex functions; repetition fractions re-derived from
    # per-(doc, line) counts; the `passes` verdict re-evaluated on the
    # UNROUNDED values exactly like the Spark side.
    o["text_gopher"] = (
        "WITH toks AS (SELECT doc_id, text, "
        "list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS tk, "
        "string_split(text, chr(10)) AS lns FROM documents), "
        "base AS (SELECT doc_id, "
        "len(tk) AS n_words, "
        "list_sum(list_transform(tk, x -> length(x))) / CAST(len(tk) AS DOUBLE) AS mean_word_len, "
        "(length(text) - length(replace(text, '#', '')) "
        " + (length(text) - length(replace(text, '...', ''))) / 3.0) / len(tk) AS symbol_to_word, "
        "len(list_filter(lns, l -> regexp_matches(trim(l), '^[-*•]'))) / CAST(len(lns) AS DOUBLE) AS bullet_line_frac, "
        "len(list_filter(lns, l -> regexp_matches(rtrim(l), '\\.\\.\\.$'))) / CAST(len(lns) AS DOUBLE) AS ellipsis_line_frac, "
        "len(list_filter(tk, x -> regexp_matches(x, '[A-Za-z]'))) / CAST(len(tk) AS DOUBLE) AS alpha_word_frac, "
        "len(list_filter(['the','be','to','of','and','that','have','with'], "
        "s -> list_contains(tk, s))) AS stopword_hits FROM toks), "
        "lr AS (SELECT doc_id, unnest(string_split(text, chr(10))) AS line FROM documents), "
        "pl AS (SELECT doc_id, line, COUNT(*) AS cnt FROM lr GROUP BY doc_id, line), "
        "rep AS (SELECT doc_id, "
        "SUM(cnt - 1) / CAST(SUM(cnt) AS DOUBLE) AS dup_line_frac, "
        "SUM((cnt - 1) * length(line)) / CAST(SUM(cnt * length(line)) AS DOUBLE) AS dup_line_char_frac "
        "FROM pl GROUP BY doc_id) "
        "SELECT b.doc_id, b.n_words, "
        + ", ".join(
            _r(c) + f" AS {c}"
            for c in [
                "mean_word_len", "symbol_to_word", "bullet_line_frac",
                "ellipsis_line_frac", "alpha_word_frac",
            ]
        )
        + ", CAST(stopword_hits AS INT) AS stopword_hits, "
        + _r("dup_line_frac") + " AS dup_line_frac, "
        + _r("dup_line_char_frac") + " AS dup_line_char_frac, "
        "(b.n_words BETWEEN 50 AND 100000 AND mean_word_len BETWEEN 3.0 AND 10.0 "
        "AND symbol_to_word <= 0.1 AND bullet_line_frac <= 0.9 "
        "AND ellipsis_line_frac <= 0.3 AND alpha_word_frac >= 0.8 "
        "AND stopword_hits >= 2 AND dup_line_frac <= 0.3 "
        "AND dup_line_char_frac <= 0.2) AS passes "
        "FROM base b JOIN rep USING (doc_id) ORDER BY doc_id"
    )

    o["dedup_ngram_jaccard"] = (
        "WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents), "
        "g0 AS (SELECT doc_id, list_distinct([array_to_string(ws[i:i+2], ' ') "
        "FOR i IN range(1, greatest(len(ws)-2, 1)+1)]) AS grams FROM w), "
        "g1 AS (SELECT doc_id, unnest(grams) AS gm FROM g0), "
        # high-DF gram cutoff: drop grams in > max(2, 0.5*n_docs) docs
        "hot AS (SELECT gm FROM g1 GROUP BY gm HAVING COUNT(*) > "
        "GREATEST(2, CAST(FLOOR(0.5 * (SELECT COUNT(*) FROM documents)) AS INT))), "
        "g AS (SELECT * FROM g1 WHERE gm NOT IN (SELECT gm FROM hot)), "
        "sizes AS (SELECT doc_id, COUNT(*) AS n FROM g GROUP BY doc_id), "
        "shared AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS sh "
        "FROM g a JOIN g b ON a.gm = b.gm AND a.doc_id < b.doc_id GROUP BY 1, 2) "
        f"SELECT id_a, id_b, {_r('sh/CAST(na.n + nb.n - sh AS DOUBLE)')} AS jaccard "
        "FROM shared JOIN sizes na ON shared.id_a = na.doc_id "
        "JOIN sizes nb ON shared.id_b = nb.doc_id "
        "WHERE sh/CAST(na.n + nb.n - sh AS DOUBLE) >= 0.1 ORDER BY id_a, id_b"
    )

    # dedup_minhash / dedup_simhash: the gate queries run the md5 hash
    # variant (dedup._hash64), whose 60-bit bigints — first 15 hex chars
    # of md5('{seed}:' || s) — are byte-exactly reproducible here, so the
    # full signature → band-bucket → verify pipelines are value-checked.
    def _h64(s: str, seed=None) -> str:
        inner = s if seed is None else f"'{seed}:' || {s}"
        return f"('0x' || substr(md5({inner}), 1, 15))::BIGINT"

    _N_HASH, _BANDS, _R_ROWS = 32, 8, 4
    sig_exprs = ", ".join(
        f"list_min([{_h64('gm', i)} FOR gm IN grams]) AS h{i}"
        for i in range(_N_HASH)
    )
    sig_list = "[" + ", ".join(f"h{i}" for i in range(_N_HASH)) + "]"
    band_payload = (
        f"array_to_string(sig[(band*{_R_ROWS}+1):(band*{_R_ROWS}+{_R_ROWS})], ',')"
    )
    # shared CTE chain: documents → md5 minhash signatures → banded
    # buckets → candidate pairs → signature-similarity estimate (used
    # by both the pair oracle and the cluster oracle below)
    mh_ctes = (
        "w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents), "
        "g AS (SELECT doc_id, list_distinct([array_to_string(ws[i:i+2], ' ') "
        "FOR i IN range(1, greatest(len(ws)-2, 1)+1)]) AS grams FROM w), "
        f"s0 AS (SELECT doc_id, {sig_exprs} FROM g), "
        f"sig AS (SELECT doc_id, {sig_list} AS sig FROM s0), "
        f"banded AS (SELECT doc_id, t.band, {_h64(band_payload)} AS band_hash "
        f"FROM sig, (SELECT unnest(range(0, {_BANDS})) AS band) t), "
        "capped AS (SELECT * FROM (SELECT *, COUNT(*) OVER (PARTITION BY band, band_hash) AS bsz "
        "FROM banded) WHERE bsz <= 512), "
        "cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b FROM capped a "
        "JOIN capped b ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id), "
        "est AS (SELECT id_a, id_b, "
        f"len(list_filter(range(1, {_N_HASH}+1), k -> sa.sig[k] = sb.sig[k])) / {_N_HASH}.0 AS ej "
        "FROM cand JOIN sig sa ON cand.id_a = sa.doc_id JOIN sig sb ON cand.id_b = sb.doc_id)"
    )
    o["dedup_minhash"] = (
        f"WITH {mh_ctes} "
        f"SELECT id_a, id_b, {_r('ej')} AS est_jaccard FROM est "
        "WHERE ej >= 0.3 ORDER BY id_a, id_b"
    )
    # stream_minhash (batch-mode run of the streaming twin) surfaces
    # the identical distinct pair set
    o["stream_minhash"] = o["dedup_minhash"]
    # streaming dHash twin: batch-mode deduped pairs == the batch
    # banded image near-dup replay (r9)
    o["stream_dhash"] = o["media_dhash_dedup"]
    # streaming audio twin: batch-mode aggregated landmark-match
    # counts == the batch constellation near-dup replay (r11)
    o["stream_audio"] = o["media_audio_dups"]

    # dedup_cluster: connected components over the minhash pair graph —
    # the Spark side runs alternating large-star/small-star; the oracle
    # computes the same fixpoint as a recursive-CTE transitive closure
    # with min-label aggregation (both yield component = min reachable).
    o["dedup_cluster"] = (
        f"WITH RECURSIVE {mh_ctes}, "
        "prs AS (SELECT id_a, id_b FROM est WHERE ej >= 0.3 AND id_a <> id_b), "
        "sym AS (SELECT id_a AS n, id_b AS r FROM prs UNION SELECT id_b, id_a FROM prs), "
        "reach AS (SELECT n, r FROM sym "
        "UNION SELECT reach.n, sym.r FROM reach JOIN sym ON reach.r = sym.n "
        "WHERE sym.r <> reach.n) "
        "SELECT n AS node, least(n, min(r)) AS component "
        "FROM reach GROUP BY n ORDER BY node"
    )

    # dedup_cluster_sizes: the cluster-size histogram over the same
    # transitive closure — (cluster_size, n_clusters), fat-tail
    # diagnostic for threshold health.
    o["dedup_cluster_sizes"] = (
        f"WITH RECURSIVE {mh_ctes}, "
        "prs AS (SELECT id_a, id_b FROM est WHERE ej >= 0.3 AND id_a <> id_b), "
        "sym AS (SELECT id_a AS n, id_b AS r FROM prs UNION SELECT id_b, id_a FROM prs), "
        "reach AS (SELECT n, r FROM sym "
        "UNION SELECT reach.n, sym.r FROM reach JOIN sym ON reach.r = sym.n "
        "WHERE sym.r <> reach.n), "
        "comp AS (SELECT n AS node, least(n, min(r)) AS component "
        "FROM reach GROUP BY n), "
        "sz AS (SELECT component, CAST(COUNT(*) AS BIGINT) AS cluster_size "
        "FROM comp GROUP BY component) "
        "SELECT cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters "
        "FROM sz GROUP BY cluster_size ORDER BY cluster_size"
    )

    # dedup_minhash_incr: even ids = historical store, odd ids = new
    # batch; bucket caps are applied PER SIDE (mirroring the Spark
    # _cap_buckets calls), candidates are new-vs-new (id_a < id_b)
    # union new-vs-store (any order), verified on the shared sig table.
    o["dedup_minhash_incr"] = (
        f"WITH {mh_ctes}, "
        "bnew AS (SELECT banded.* FROM banded WHERE doc_id % 2 = 1), "
        "bold AS (SELECT banded.* FROM banded WHERE doc_id % 2 = 0), "
        "cnew AS (SELECT * FROM (SELECT *, COUNT(*) OVER "
        "(PARTITION BY band, band_hash) AS bsz FROM bnew) WHERE bsz <= 512), "
        "cold AS (SELECT * FROM (SELECT *, COUNT(*) OVER "
        "(PARTITION BY band, band_hash) AS bsz FROM bold) WHERE bsz <= 512), "
        "candi AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b "
        "FROM cnew a JOIN cnew b ON a.band = b.band "
        "AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id "
        "UNION SELECT DISTINCT a.doc_id, b.doc_id "
        "FROM cnew a JOIN cold b ON a.band = b.band "
        "AND a.band_hash = b.band_hash), "
        "esti AS (SELECT id_a, id_b, "
        f"len(list_filter(range(1, {_N_HASH}+1), k -> sa.sig[k] = sb.sig[k])) "
        f"/ {_N_HASH}.0 AS ej "
        "FROM candi JOIN sig sa ON candi.id_a = sa.doc_id "
        "JOIN sig sb ON candi.id_b = sb.doc_id) "
        f"SELECT id_a, id_b, {_r('ej')} AS est_jaccard FROM esti "
        "WHERE ej >= 0.3 ORDER BY id_a, id_b"
    )

    # simhash: md5 hashes are < 2^60, so bits 60..63 never win the vote
    # and only bits 0..59 can contribute to the signature.
    vote_exprs = ", ".join(
        f"SUM(((h >> {i}) & 1) * 2 - 1) AS b{i}" for i in range(60)
    )
    sig_sum = " + ".join(
        f"CASE WHEN b{i} > 0 THEN CAST({2**i} AS BIGINT) ELSE 0 END"
        for i in range(60)
    )
    o["dedup_simhash"] = (
        "WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents), "
        f"h AS (SELECT doc_id, {_h64('tok')} AS h FROM toks), "
        f"votes AS (SELECT doc_id, {vote_exprs} FROM h GROUP BY doc_id), "
        f"sig AS (SELECT doc_id, {sig_sum} AS simhash FROM votes), "
        "banded AS (SELECT doc_id, simhash, t.band, "
        "(simhash >> (t.band * 16)) & 65535 AS band_val "
        "FROM sig, (SELECT unnest(range(0, 4)) AS band) t), "
        "capped AS (SELECT * FROM (SELECT *, COUNT(*) OVER (PARTITION BY band, band_val) AS bsz "
        "FROM banded) WHERE bsz <= 512), "
        "pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, "
        "CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming "
        "FROM capped a JOIN capped b ON a.band = b.band AND a.band_val = b.band_val "
        "AND a.doc_id < b.doc_id) "
        "SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= 12 ORDER BY id_a, id_b"
    )

    from functime_spark.pipeline.text import LANG_LEXICONS

    def _lex_sql(lang: str) -> str:
        words = ", ".join(f"'{w}'" for w in LANG_LEXICONS[lang])
        return (
            f"len(list_filter(ws, x -> list_contains([{words}], x)))"
            "/CAST(len(ws) AS DOUBLE)"
        )

    langs_sorted = sorted(LANG_LEXICONS)
    score_sel = ", ".join(f"{_lex_sql(lg)} AS score_{lg}" for lg in LANG_LEXICONS)
    # replicate the fold in text.language_id: seed with the first sorted
    # language, then CASE-chain strictly-greater updates
    fold = [
        f"s AS (SELECT doc_id, {score_sel} FROM w)",
        f"p0 AS (SELECT *, score_{langs_sorted[0]} AS b0, "
        f"CASE WHEN score_{langs_sorted[0]} > 0 THEN '{langs_sorted[0]}' ELSE 'und' END AS l0 FROM s)",
    ]
    for i, lg in enumerate(langs_sorted[1:], start=1):
        fold.append(
            f"p{i} AS (SELECT *, CASE WHEN score_{lg} > b{i-1} THEN '{lg}' ELSE l{i-1} END AS l{i}, "
            f"GREATEST(score_{lg}, b{i-1}) AS b{i} FROM p{i-1})"
        )
    last = len(langs_sorted) - 1
    o["text_language_id"] = (
        "WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents), "
        + ", ".join(fold)
        + " SELECT doc_id, "
        + ", ".join(f"{_r(f'score_{lg}')} AS score_{lg}" for lg in LANG_LEXICONS)
        + f", l{last} AS pred_lang FROM p{last} ORDER BY doc_id"
    )

    # text_lang_confusion: declared-vs-detected agreement matrix — the
    # same score fold with the declared lang carried through (p-chain
    # SELECT *s keep it), then a double-key aggregate + row share
    fold_c = [f"s AS (SELECT doc_id, lang, {score_sel} FROM w)"] + fold[1:]
    o["text_lang_confusion"] = (
        "WITH w AS (SELECT doc_id, lang, string_split(text, ' ') AS ws "
        "FROM documents), "
        + ", ".join(fold_c)
        + f" SELECT lang, l{last} AS pred_lang, "
        "CAST(COUNT(*) AS BIGINT) AS n_docs, "
        + _r("COUNT(*) / SUM(COUNT(*)) OVER (PARTITION BY lang)")
        + f" AS frac_of_lang FROM p{last} "
        f"GROUP BY lang, l{last} ORDER BY lang, pred_lang"
    )

    # text_filter_language: the same score fold, filtered to the
    # en/de allowlist — the doc's declared lang rides through for the
    # output projection
    o["text_filter_language"] = (
        "WITH w AS (SELECT doc_id, lang, string_split(text, ' ') AS ws "
        "FROM documents), "
        + ", ".join(fold_c)
        + f" SELECT doc_id, lang FROM p{last} "
        f"WHERE l{last} IN ('en', 'de') ORDER BY doc_id"
    )

    # text_hashed_features: the hashing-trick vectors replayed — md5
    # bucket/sign per token, grouped signed sums, dense dims via a
    # range cross join (missing buckets are exact 0.0; ±1 sums carry
    # no float noise)
    o["text_hashed_features"] = (
        "WITH tk AS (SELECT doc_id, unnest(list_filter("
        r"string_split_regex(text, '\s+'), x -> x <> '')) AS t "
        "FROM documents), "
        "h AS (SELECT doc_id, "
        "('0x' || substr(md5('1:' || t), 1, 15))::BIGINT % 16 AS bkt, "
        "CASE WHEN ('0x' || substr(md5('2:' || t), 1, 15))::BIGINT % 2 = 0 "
        "THEN 1.0 ELSE -1.0 END AS sg FROM tk), "
        "g AS (SELECT doc_id, bkt, SUM(sg) AS v FROM h GROUP BY doc_id, bkt) "
        "SELECT d.doc_id, CAST(r.i AS INT) AS dim, "
        + _r("COALESCE(g.v, 0.0)")
        + " AS value FROM documents d CROSS JOIN range(0, 16) r(i) "
        "LEFT JOIN g ON g.doc_id = d.doc_id AND g.bkt = r.i "
        "ORDER BY d.doc_id, dim"
    )

    en_words = ", ".join(f"'{w}'" for w in LANG_LEXICONS["en"])
    o["text_quality"] = (
        "WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS ws FROM documents) "
        "SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars, "
        "CAST(len(ws) AS BIGINT) AS n_words, "
        + _r("length(text)/CAST(len(ws) AS DOUBLE)")
        + " AS mean_word_len, "
        + _r("len(list_distinct(ws))/CAST(len(ws) AS DOUBLE)")
        + " AS type_token_ratio, "
        + _r(
            f"len(list_filter(ws, x -> list_contains([{en_words}], x)))/CAST(len(ws) AS DOUBLE)"
        )
        + " AS stopword_ratio, "
        + _r(
            r"(length(text) - length(regexp_replace(text, '[^\w\s]', '', 'g')))"
            "/CAST(length(text) AS DOUBLE)"
        )
        + " AS punct_ratio, "
        + _r(
            "(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))"
            "/CAST(length(text) AS DOUBLE)"
        )
        + " AS digit_ratio FROM t ORDER BY doc_id"
    )

    o["forecast_backtest_naive"] = (
        f"WITH q AS (SELECT user_id, ts, value, row_number() OVER w - 1 AS i, "
        f"COUNT(*) OVER (PARTITION BY user_id) AS n FROM events {_W}), "
        "splits(s, cutoff) AS (VALUES (0, 8), (1, 4)), "
        "lt AS (SELECT q.user_id, s.s AS split, q.value AS pred FROM q, splits s "
        "WHERE q.i = q.n - s.cutoff - 1) "
        f"SELECT q.user_id, q.ts, {_r('lt.pred')} AS value, lt.split "
        "FROM q JOIN splits s ON q.i >= q.n - s.cutoff AND q.i < q.n - s.cutoff + 4 "
        "JOIN lt ON lt.user_id = q.user_id AND lt.split = s.s "
        "ORDER BY q.user_id, q.ts, lt.split"
    )

    # forecast_conformal: replay the expanding backtest (test_size=4,
    # n_splits=2, step_size=1 -> cutoffs 5,4), take per-entity
    # quantile_cont(actual - pred) at each alpha, and add it to both
    # the last-value point forecast and the backtest predictions
    # (ref conformal.py:52-72 semantics).
    o["forecast_conformal"] = (
        f"WITH q AS (SELECT user_id, ts, value, row_number() OVER w - 1 AS i, "
        f"COUNT(*) OVER (PARTITION BY user_id) AS n FROM events {_W}), "
        "splits(s, cutoff) AS (VALUES (0, 5), (1, 4)), "
        "lt AS (SELECT q.user_id, s.s AS split, q.value AS pred FROM q, splits s "
        "WHERE q.i = q.n - s.cutoff - 1), "
        "bt AS (SELECT q.user_id, q.ts, q.value AS actual, lt.pred "
        "FROM q JOIN splits s ON q.i >= q.n - s.cutoff AND q.i < q.n - s.cutoff + 4 "
        "JOIN lt ON lt.user_id = q.user_id AND lt.split = s.s), "
        "qs AS (SELECT user_id, quantile_cont(actual - pred, 0.1) AS qlo, "
        "quantile_cont(actual - pred, 0.9) AS qhi FROM bt GROUP BY user_id), "
        "c AS (SELECT user_id, MAX(ts) AS low, max_by(value, ts) AS v "
        "FROM events GROUP BY user_id), "
        "pts AS (SELECT c.user_id, c.low + i * INTERVAL '1 hour' AS ts, c.v "
        "FROM c, generate_series(1, 4) AS g(i) "
        "UNION ALL SELECT user_id, ts, pred AS v FROM bt) "
        f"SELECT p.user_id, p.ts, {_r('p.v + q.qlo')} AS value, "
        "CAST(10 AS INTEGER) AS quantile FROM pts p JOIN qs q USING (user_id) "
        "UNION ALL "
        f"SELECT p.user_id, p.ts, {_r('p.v + q.qhi')} AS value, "
        "CAST(90 AS INTEGER) AS quantile FROM pts p JOIN qs q USING (user_id) "
        "ORDER BY 1, 2, 4, 3"
    )

    # conformal_enbpi: the standalone lower-level contract — demeaned
    # values as residuals, last-2-rows-per-entity as predictions,
    # per-entity quantile_cont at each raw alpha added to the point
    # forecast (ref conformal.py:6-38).
    o["conformal_enbpi"] = (
        f"WITH q AS (SELECT user_id, ts, value, row_number() OVER w AS rn, "
        "COUNT(*) OVER (PARTITION BY user_id) AS n, "
        f"AVG(value) OVER (PARTITION BY user_id) AS mu FROM events {_W}), "
        "qs AS (SELECT user_id, "
        "quantile_cont(value - mu, 0.25) AS q1, "
        "quantile_cont(value - mu, 0.75) AS q2 FROM q GROUP BY user_id), "
        "p AS (SELECT user_id, ts, value FROM q WHERE rn > n - 2) "
        f"SELECT p.user_id, p.ts, {_r('p.value + qs.q1')} AS value, "
        "0.25 AS quantile FROM p JOIN qs USING (user_id) "
        "UNION ALL "
        f"SELECT p.user_id, p.ts, {_r('p.value + qs.q2')} AS value, "
        "0.75 AS quantile FROM p JOIN qs USING (user_id) "
        "ORDER BY 1, 2, 4"
    )

    # dedup_lines_within: first-occurrence within-document dedup
    # replayed as UNNEST WITH ORDINALITY -> per-(doc, unit) MIN(pos) ->
    # position-ordered string_agg; totals from the raw and grouped
    # streams.
    o["dedup_lines_within"] = (
        "WITH arrs AS (SELECT doc_id, string_split(text, ' ') AS arr "
        "FROM documents), "
        "ex AS (SELECT doc_id, unnest(arr) AS line, "
        "generate_subscripts(arr, 1) AS pos FROM arrs), "
        "fst AS (SELECT doc_id, line, MIN(pos) AS p FROM ex GROUP BY 1, 2), "
        "tot AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_lines FROM ex "
        "GROUP BY 1) "
        "SELECT f.doc_id, string_agg(f.line, ' ' ORDER BY f.p) AS text, "
        "MAX(t.n_lines) AS n_lines, CAST(COUNT(*) AS BIGINT) AS n_kept "
        "FROM fst f JOIN tot t USING (doc_id) "
        "GROUP BY 1 ORDER BY 1"
    )

    # future_holidays: rebuild BOTH vendored calendars in pure SQL —
    # fixed dates, nth-weekday rules (isodow arithmetic), and the
    # Anonymous Gregorian computus for the DE Easter-based holidays —
    # over the replayed 400-day future index.
    _computus = (
        "easter AS (SELECT y, make_date(y, CAST((h + l - 7*m + 114) // 31 AS INT), "
        "CAST((h + l - 7*m + 114) % 31 + 1 AS INT)) AS e FROM ("
        "SELECT y, a, b, c, d, ee, f, g, h, i, k, "
        "(32 + 2*ee + 2*i - h - k) % 7 AS l, "
        "(a + 11*h + 22*((32 + 2*ee + 2*i - h - k) % 7)) // 451 AS m FROM ("
        "SELECT y, y % 19 AS a, y // 100 AS b, y % 100 AS c, "
        "(y // 100) // 4 AS d, (y // 100) % 4 AS ee, ((y // 100) + 8) // 25 AS f, "
        "((y // 100) - ((y // 100) + 8) // 25 + 1) // 3 AS g, "
        "(19*(y % 19) + (y // 100) - (y // 100) // 4 "
        "- ((y // 100) - ((y // 100) + 8) // 25 + 1) // 3 + 15) % 30 AS h, "
        "(y % 100) // 4 AS i, (y % 100) % 4 AS k FROM yrs)))"
    )
    _us_rules = (
        "SELECT make_date(y,1,1) AS d, 'new_years_day' AS nm FROM yrs "
        "UNION ALL SELECT make_date(y,1,1) + to_days(CAST((8 - isodow(make_date(y,1,1))) % 7 + 14 AS INT)), "
        "'martin_luther_king_jr._day' FROM yrs "
        "UNION ALL SELECT make_date(y,2,1) + to_days(CAST((8 - isodow(make_date(y,2,1))) % 7 + 14 AS INT)), "
        "'washingtons_birthday' FROM yrs "
        "UNION ALL SELECT make_date(y,5,31) - to_days(CAST((isodow(make_date(y,5,31)) - 1) % 7 AS INT)), "
        "'memorial_day' FROM yrs "
        "UNION ALL SELECT make_date(y,6,19), 'juneteenth_national_independence_day' "
        "FROM yrs WHERE y >= 2021 "
        "UNION ALL SELECT make_date(y,7,4), 'independence_day' FROM yrs "
        "UNION ALL SELECT make_date(y,9,1) + to_days(CAST((8 - isodow(make_date(y,9,1))) % 7 AS INT)), "
        "'labor_day' FROM yrs "
        "UNION ALL SELECT make_date(y,10,1) + to_days(CAST((8 - isodow(make_date(y,10,1))) % 7 + 7 AS INT)), "
        "'columbus_day' FROM yrs "
        "UNION ALL SELECT make_date(y,11,11), 'veterans_day' FROM yrs "
        "UNION ALL SELECT make_date(y,11,1) + to_days(CAST((11 - isodow(make_date(y,11,1))) % 7 + 21 AS INT)), "
        "'thanksgiving' FROM yrs "
        "UNION ALL SELECT make_date(y,12,25), 'christmas_day' FROM yrs"
    )
    _de_rules = (
        "SELECT make_date(y,1,1) AS d, 'neujahr' AS nm FROM yrs "
        "UNION ALL SELECT e - to_days(2), 'karfreitag' FROM easter "
        "UNION ALL SELECT e + to_days(1), 'ostermontag' FROM easter "
        "UNION ALL SELECT make_date(y,5,1), 'erster_mai' FROM yrs "
        "UNION ALL SELECT e + to_days(39), 'christi_himmelfahrt' FROM easter "
        "UNION ALL SELECT e + to_days(50), 'pfingstmontag' FROM easter "
        "UNION ALL SELECT make_date(y,10,3), 'tag_der_deutschen_einheit' FROM yrs "
        "UNION ALL SELECT make_date(y,12,25), 'erster_weihnachtstag' FROM yrs "
        "UNION ALL SELECT make_date(y,12,26), 'zweiter_weihnachtstag' FROM yrs"
    )
    _gb_rules = (
        "SELECT make_date(y,1,1) AS d, 'new_years_day' AS nm FROM yrs "
        "UNION ALL SELECT e - to_days(2), 'good_friday' FROM easter "
        "UNION ALL SELECT e + to_days(1), 'easter_monday' FROM easter "
        "UNION ALL SELECT make_date(y,5,1) + to_days(CAST((8 - isodow(make_date(y,5,1))) % 7 AS INT)), "
        "'may_day' FROM yrs "
        "UNION ALL SELECT make_date(y,5,31) - to_days(CAST((isodow(make_date(y,5,31)) - 1) % 7 AS INT)), "
        "'spring_bank_holiday' FROM yrs "
        "UNION ALL SELECT make_date(y,8,31) - to_days(CAST((isodow(make_date(y,8,31)) - 1) % 7 AS INT)), "
        "'summer_bank_holiday' FROM yrs "
        "UNION ALL SELECT make_date(y,12,25), 'christmas_day' FROM yrs "
        "UNION ALL SELECT make_date(y,12,26), 'boxing_day' FROM yrs"
    )
    _ca_rules = (
        "SELECT make_date(y,1,1) AS d, 'new_years_day' AS nm FROM yrs "
        "UNION ALL SELECT e - to_days(2), 'good_friday' FROM easter "
        # Victoria Day: the Monday on or before May 24
        "UNION ALL SELECT make_date(y,5,24) - to_days(CAST((isodow(make_date(y,5,24)) - 1) % 7 AS INT)), "
        "'victoria_day' FROM yrs "
        "UNION ALL SELECT make_date(y,7,1), 'canada_day' FROM yrs "
        "UNION ALL SELECT make_date(y,9,1) + to_days(CAST((8 - isodow(make_date(y,9,1))) % 7 AS INT)), "
        "'labour_day' FROM yrs "
        "UNION ALL SELECT make_date(y,10,1) + to_days(CAST((8 - isodow(make_date(y,10,1))) % 7 + 7 AS INT)), "
        "'thanksgiving' FROM yrs "
        "UNION ALL SELECT make_date(y,11,11), 'remembrance_day' FROM yrs "
        "UNION ALL SELECT make_date(y,12,25), 'christmas_day' FROM yrs "
        "UNION ALL SELECT make_date(y,12,26), 'boxing_day' FROM yrs "
        "UNION ALL SELECT make_date(y,9,30), 'national_day_for_truth_and_reconciliation' "
        "FROM yrs WHERE y >= 2021"
    )
    _nl_rules = (
        "SELECT make_date(y,1,1) AS d, 'nieuwjaarsdag' AS nm FROM yrs "
        "UNION ALL SELECT e - to_days(2), 'goede_vrijdag' FROM easter "
        "UNION ALL SELECT e, 'eerste_paasdag' FROM easter "
        "UNION ALL SELECT e + to_days(1), 'tweede_paasdag' FROM easter "
        # Koningsdag: Apr 27, shifted to Apr 26 when the 27th is a Sunday
        "UNION ALL SELECT CASE WHEN isodow(make_date(y,4,27)) = 7 "
        "THEN make_date(y,4,26) ELSE make_date(y,4,27) END, 'koningsdag' "
        "FROM yrs WHERE y >= 2014 "
        "UNION ALL SELECT make_date(y,4,30), 'koninginnedag' FROM yrs WHERE y < 2014 "
        "UNION ALL SELECT make_date(y,5,5), 'bevrijdingsdag' FROM yrs "
        "UNION ALL SELECT e + to_days(39), 'hemelvaartsdag' FROM easter "
        "UNION ALL SELECT e + to_days(49), 'eerste_pinksterdag' FROM easter "
        "UNION ALL SELECT e + to_days(50), 'tweede_pinksterdag' FROM easter "
        "UNION ALL SELECT make_date(y,12,25), 'eerste_kerstdag' FROM yrs "
        "UNION ALL SELECT make_date(y,12,26), 'tweede_kerstdag' FROM yrs"
    )
    _br_rules = (
        "SELECT make_date(y,1,1) AS d, 'confraternizacao_universal' AS nm FROM yrs "
        "UNION ALL SELECT e - to_days(2), 'sexta_feira_santa' FROM easter "
        "UNION ALL SELECT make_date(y,4,21), 'tiradentes' FROM yrs "
        "UNION ALL SELECT make_date(y,5,1), 'dia_do_trabalhador' FROM yrs "
        "UNION ALL SELECT make_date(y,9,7), 'independencia_do_brasil' FROM yrs "
        "UNION ALL SELECT make_date(y,10,12), 'nossa_senhora_aparecida' FROM yrs "
        "UNION ALL SELECT make_date(y,11,2), 'finados' FROM yrs "
        "UNION ALL SELECT make_date(y,11,15), 'proclamacao_da_republica' FROM yrs "
        "UNION ALL SELECT make_date(y,12,25), 'natal' FROM yrs "
        "UNION ALL SELECT make_date(y,11,20), 'dia_da_consciencia_negra' "
        "FROM yrs WHERE y >= 2024"
    )
    _mx_rules = (
        "SELECT make_date(y,1,1) AS d, 'ano_nuevo' AS nm FROM yrs "
        # first Monday of February (post-2006 reform; future index is >= 2006)
        "UNION ALL SELECT make_date(y,2,1) + to_days(CAST((8 - isodow(make_date(y,2,1))) % 7 AS INT)), "
        "'dia_de_la_constitucion' FROM yrs WHERE y >= 2006 "
        "UNION ALL SELECT make_date(y,2,5), 'dia_de_la_constitucion' FROM yrs WHERE y < 2006 "
        # third Monday of March
        "UNION ALL SELECT make_date(y,3,1) + to_days(CAST((8 - isodow(make_date(y,3,1))) % 7 + 14 AS INT)), "
        "'natalicio_de_benito_juarez' FROM yrs WHERE y >= 2006 "
        "UNION ALL SELECT make_date(y,3,21), 'natalicio_de_benito_juarez' FROM yrs WHERE y < 2006 "
        "UNION ALL SELECT make_date(y,5,1), 'dia_del_trabajo' FROM yrs "
        "UNION ALL SELECT make_date(y,9,16), 'dia_de_la_independencia' FROM yrs "
        # third Monday of November
        "UNION ALL SELECT make_date(y,11,1) + to_days(CAST((8 - isodow(make_date(y,11,1))) % 7 + 14 AS INT)), "
        "'dia_de_la_revolucion' FROM yrs WHERE y >= 2006 "
        "UNION ALL SELECT make_date(y,11,20), 'dia_de_la_revolucion' FROM yrs WHERE y < 2006 "
        # sexennial presidential transition: Oct 1 from 2024, Dec 1 before
        "UNION ALL SELECT make_date(y,10,1), 'transmision_del_poder_ejecutivo' "
        "FROM yrs WHERE y >= 2024 AND (y - 2024) % 6 = 0 "
        "UNION ALL SELECT make_date(y,12,1), 'transmision_del_poder_ejecutivo' "
        "FROM yrs WHERE y >= 1934 AND y < 2024 AND (y - 1934) % 6 = 0 "
        "UNION ALL SELECT make_date(y,12,25), 'navidad' FROM yrs"
    )
    _no_rules = (
        "SELECT make_date(y,1,1) AS d, 'forste_nyttarsdag' AS nm FROM yrs "
        "UNION ALL SELECT e - to_days(3), 'skjaertorsdag' FROM easter "
        "UNION ALL SELECT e - to_days(2), 'langfredag' FROM easter "
        "UNION ALL SELECT e, 'forste_paskedag' FROM easter "
        "UNION ALL SELECT e + to_days(1), 'andre_paskedag' FROM easter "
        "UNION ALL SELECT e + to_days(49), 'forste_pinsedag' FROM easter "
        "UNION ALL SELECT make_date(y,5,1), 'arbeidernes_dag' FROM yrs "
        "UNION ALL SELECT make_date(y,5,17), 'grunnlovsdagen' FROM yrs "
        "UNION ALL SELECT e + to_days(39), 'kristi_himmelfartsdag' FROM easter "
        "UNION ALL SELECT e + to_days(50), 'andre_pinsedag' FROM easter "
        "UNION ALL SELECT make_date(y,12,25), 'forste_juledag' FROM yrs "
        "UNION ALL SELECT make_date(y,12,26), 'andre_juledag' FROM yrs"
    )
    _pt_rules = (
        "SELECT make_date(y,1,1) AS d, 'ano_novo' AS nm FROM yrs "
        "UNION ALL SELECT e - to_days(2), 'sexta_feira_santa' FROM easter "
        "UNION ALL SELECT e, 'pascoa' FROM easter "
        "UNION ALL SELECT make_date(y,4,25), 'dia_da_liberdade' FROM yrs "
        "UNION ALL SELECT make_date(y,5,1), 'dia_do_trabalhador' FROM yrs "
        "UNION ALL SELECT e + to_days(60), 'corpo_de_deus' FROM easter "
        "UNION ALL SELECT make_date(y,6,10), 'dia_de_portugal' FROM yrs "
        "UNION ALL SELECT make_date(y,8,15), 'assuncao_de_nossa_senhora' FROM yrs "
        "UNION ALL SELECT make_date(y,10,5), 'implantacao_da_republica' FROM yrs "
        "UNION ALL SELECT make_date(y,11,1), 'todos_os_santos' FROM yrs "
        "UNION ALL SELECT make_date(y,12,1), 'restauracao_da_independencia' FROM yrs "
        "UNION ALL SELECT make_date(y,12,8), 'imaculada_conceicao' FROM yrs "
        "UNION ALL SELECT make_date(y,12,25), 'natal' FROM yrs"
    )
    # JP: fixed dates + 2nd/3rd-Monday rules + the astronomical equinox
    # approximation day = floor(base + 0.242194*(y-1980) - (y-1980)//4)
    # (vernal base 20.8431 / March, autumnal 23.2488 / September) —
    # replaying holidays_vendored._jp_equinox digit for digit
    _jp_eq = (
        "CAST(FLOOR({base} + 0.242194 * (y - 1980) "
        "- FLOOR((y - 1980) / 4.0)) AS INT)"
    )
    _jp_rules = (
        "SELECT make_date(y,1,1) AS d, 'ganjitsu' AS nm FROM yrs "
        "UNION ALL SELECT make_date(y,2,11), 'kenkoku_kinen_no_hi' FROM yrs "
        "UNION ALL SELECT make_date(y,3," + _jp_eq.format(base="20.8431")
        + "), 'shunbun_no_hi' FROM yrs "
        "UNION ALL SELECT make_date(y,4,29), 'showa_no_hi' FROM yrs "
        "UNION ALL SELECT make_date(y,5,3), 'kenpo_kinenbi' FROM yrs "
        "UNION ALL SELECT make_date(y,5,4), 'midori_no_hi' FROM yrs "
        "UNION ALL SELECT make_date(y,5,5), 'kodomo_no_hi' FROM yrs "
        "UNION ALL SELECT make_date(y,9," + _jp_eq.format(base="23.2488")
        + "), 'shubun_no_hi' FROM yrs "
        "UNION ALL SELECT make_date(y,11,3), 'bunka_no_hi' FROM yrs "
        "UNION ALL SELECT make_date(y,11,23), 'kinro_kansha_no_hi' FROM yrs "
        # 2nd Monday of January / October (since 2000)
        "UNION ALL SELECT make_date(y,1,1) + to_days(CAST((8 - isodow(make_date(y,1,1))) % 7 + 7 AS INT)), "
        "'seijin_no_hi' FROM yrs WHERE y >= 2000 "
        "UNION ALL SELECT make_date(y,10,1) + to_days(CAST((8 - isodow(make_date(y,10,1))) % 7 + 7 AS INT)), "
        "'supotsu_no_hi' FROM yrs WHERE y >= 2000 "
        # 3rd Monday of July / September (since 2003)
        "UNION ALL SELECT make_date(y,7,1) + to_days(CAST((8 - isodow(make_date(y,7,1))) % 7 + 14 AS INT)), "
        "'umi_no_hi' FROM yrs WHERE y >= 2003 "
        "UNION ALL SELECT make_date(y,9,1) + to_days(CAST((8 - isodow(make_date(y,9,1))) % 7 + 14 AS INT)), "
        "'keiro_no_hi' FROM yrs WHERE y >= 2003 "
        "UNION ALL SELECT make_date(y,8,11), 'yama_no_hi' FROM yrs WHERE y >= 2016 "
        "UNION ALL SELECT make_date(y,2,23), 'tenno_tanjobi' FROM yrs WHERE y >= 2020"
    )
    # GR: movable feasts follow ORTHODOX Easter — the Julian (Meeus)
    # computus shifted +13 days, a different root than the Gregorian
    # easter CTE (replaying holidays_vendored._orthodox_easter)
    _ocomputus = (
        "oeaster AS (SELECT y, make_date(y, "
        "CAST((d + e2 + 114) // 31 AS INT), "
        "CAST((d + e2 + 114) % 31 + 1 AS INT)) + to_days(13) AS oe FROM ("
        "SELECT y, d, (2*(y % 4) + 4*(y % 7) - d + 34) % 7 AS e2 FROM ("
        "SELECT y, (19*(y % 19) + 15) % 30 AS d FROM yrs)))"
    )
    _gr_rules = (
        "SELECT make_date(y,1,1) AS d, 'new_years_day' AS nm FROM yrs "
        "UNION ALL SELECT make_date(y,1,6), 'epiphany' FROM yrs "
        "UNION ALL SELECT oe - to_days(48), 'clean_monday' FROM oeaster "
        "UNION ALL SELECT make_date(y,3,25), 'independence_day' FROM yrs "
        "UNION ALL SELECT oe - to_days(2), 'good_friday' FROM oeaster "
        "UNION ALL SELECT oe + to_days(1), 'easter_monday' FROM oeaster "
        "UNION ALL SELECT make_date(y,5,1), 'labour_day' FROM yrs "
        "UNION ALL SELECT oe + to_days(50), 'monday_of_the_holy_spirit' FROM oeaster "
        "UNION ALL SELECT make_date(y,8,15), 'assumption_day' FROM yrs "
        "UNION ALL SELECT make_date(y,10,28), 'ochi_day' FROM yrs "
        "UNION ALL SELECT make_date(y,12,25), 'christmas_day' FROM yrs "
        "UNION ALL SELECT make_date(y,12,26), 'glorifying_mother_of_god' FROM yrs"
    )
    # ZA: statutory Sunday->Monday observance on every fixed holiday
    _za_fixed = [
        (1, 1, "new_years_day"),
        (3, 21, "human_rights_day"),
        (4, 27, "freedom_day"),
        (5, 1, "workers_day"),
        (6, 16, "youth_day"),
        (8, 9, "national_womens_day"),
        (9, 24, "heritage_day"),
        (12, 16, "day_of_reconciliation"),
        (12, 25, "christmas_day"),
        (12, 26, "day_of_goodwill"),
    ]
    _za_rules = (
        " UNION ALL ".join(
            f"SELECT make_date(y,{m},{d}) AS d, '{nm}' AS nm FROM yrs "
            f"UNION ALL SELECT make_date(y,{m},{d}) + to_days(1), "
            f"'{nm}_(observed)' FROM yrs "
            f"WHERE isodow(make_date(y,{m},{d})) = 7"
            for m, d, nm in _za_fixed
        )
        + " UNION ALL SELECT e - to_days(2), 'good_friday' FROM easter "
        "UNION ALL SELECT e + to_days(1), 'family_day' FROM easter"
    )
    # SA: Hijri Eids via the CIVIL TABULAR Islamic calendar — epoch
    # 1 Muharram 1 AH = 0622-07-19 proleptic Gregorian, day offset
    # 354*(hy-1) + (11*hy+3)//30 leap days + 29*(hm-1) + hm//2 + hd-1 —
    # with the gazetted Umm al-Qura override years replayed as a VALUES
    # table (single source of truth: holidays_vendored._SA_EID_*). Up
    # to three candidate Hijri years are scanned per Gregorian year so
    # double-Eid years (e.g. 2033) emit both occurrences.
    from functime_spark.operators.holidays_vendored import (
        _SA_EID_ADHA,
        _SA_EID_FITR,
    )

    _sa_ov = ", ".join(
        f"({y}, '{nm}', DATE '{y}-{m:02d}-{d:02d}')"
        for nm, tbl in (("eid_al_fitr", _SA_EID_FITR), ("eid_al_adha", _SA_EID_ADHA))
        for y, (m, d) in sorted(tbl.items())
    )
    _sa_rules = (
        "SELECT make_date(y,9,23) AS d, 'saudi_national_day' AS nm FROM yrs "
        "UNION ALL SELECT make_date(y,2,22), 'founding_day' FROM yrs "
        "WHERE y >= 2022 "
        "UNION ALL SELECT COALESCE(ov.od, t.tab), t.nm FROM ("
        "SELECT y, nm, DATE '0622-07-19' + to_days(CAST((hy-1)*354 "
        "+ (11*hy+3)//30 + 29*(hm-1) + hm//2 + hd - 1 AS INT)) AS tab FROM ("
        "SELECT y, CAST(FLOOR((y - 622) * 1.0306) AS INT) + k AS hy FROM yrs, "
        "(VALUES (0),(1),(2)) ks(k)) h, "
        "(VALUES (10,1,'eid_al_fitr'),(12,10,'eid_al_adha')) hol(hm,hd,nm)) t "
        f"LEFT JOIN (VALUES {_sa_ov}) ov(gy, onm, od) "
        "ON year(t.tab) = ov.gy AND t.nm = ov.onm "
        "WHERE year(t.tab) = t.y"
    )
    # ID: fixed + Easter-computus days, the tabular-Hijri set with the
    # SKB (joint-decree) override years — Indonesia's sighted dates
    # differ from Umm al-Qura in several years, hence its own tables —
    # Idul Fitri day 2 as anchor+1, the vendored Nyepi / Waisak VALUES
    # (single source of truth: holidays_vendored._ID_*), and Imlek off
    # the shared lunisolar CTE (r7: same arithmetic as CN/VN/TW/HK).
    from functime_spark.operators.holidays_vendored import (
        _ID_EID_ADHA,
        _ID_EID_FITR,
        _ID_NYEPI,
        _ID_WAISAK,
    )

    _id_ov = ", ".join(
        f"({y}, '{nm}', DATE '{y}-{m:02d}-{d:02d}')"
        for nm, tbl in (
            ("idul_fitri_day_1", _ID_EID_FITR),
            ("idul_adha", _ID_EID_ADHA),
        )
        for y, (m, d) in sorted(tbl.items())
    )
    _id_tabular = (
        "SELECT y, nm, DATE '0622-07-19' + to_days(CAST((hy-1)*354 "
        "+ (11*hy+3)//30 + 29*(hm-1) + hm//2 + hd - 1 AS INT)) AS tab FROM ("
        "SELECT y, CAST(FLOOR((y - 622) * 1.0306) AS INT) + k AS hy FROM yrs, "
        "(VALUES (0),(1),(2)) ks(k)) h, "
        "(VALUES {hol}) hol(hm,hd,nm)"
    )
    _id_fixed_tbls = ", ".join(
        f"(DATE '{y}-{m:02d}-{d:02d}', '{nm}')"
        for nm, tbl in (
            ("hari_suci_nyepi", _ID_NYEPI),
            ("hari_raya_waisak", _ID_WAISAK),
        )
        for y, (m, d) in sorted(tbl.items())
    )
    _id_rules = (
        "SELECT make_date(y,1,1) AS d, 'tahun_baru_masehi' AS nm FROM yrs "
        "UNION ALL SELECT make_date(y,8,17), 'hari_kemerdekaan' FROM yrs "
        "UNION ALL SELECT make_date(y,12,25), 'hari_natal' FROM yrs "
        "UNION ALL SELECT make_date(y,5,1), 'hari_buruh' FROM yrs WHERE y >= 2014 "
        "UNION ALL SELECT make_date(y,6,1), 'hari_lahir_pancasila' FROM yrs "
        "WHERE y >= 2017 "
        "UNION ALL SELECT e - to_days(2), 'wafat_isa_almasih' FROM easter "
        "UNION ALL SELECT e + to_days(39), 'kenaikan_isa_almasih' FROM easter "
        f"UNION ALL SELECT t.d, t.nm FROM (VALUES {_id_fixed_tbls}) t(d, nm) "
        "JOIN yrs ON year(t.d) = yrs.y "
        "UNION ALL SELECT l.d, 'tahun_baru_imlek' FROM lun l "
        "JOIN yrs ON year(l.d) = yrs.y "
        "WHERE l.lm = 1 AND l.ld = 1 AND yrs.y >= 2003 "
        "UNION ALL SELECT COALESCE(ov.od, t.tab), t.nm FROM ("
        + _id_tabular.format(
            hol="(10,1,'idul_fitri_day_1'),(12,10,'idul_adha'),"
            "(1,1,'tahun_baru_islam'),(3,12,'maulid_nabi'),"
            "(7,27,'isra_miraj')"
        )
        + ") t "
        f"LEFT JOIN (VALUES {_id_ov}) ov(gy, onm, od) "
        "ON year(t.tab) = ov.gy AND t.nm = ov.onm "
        "WHERE year(t.tab) = t.y "
        "UNION ALL SELECT COALESCE(ov.od, t.tab) + to_days(1), "
        "'idul_fitri_day_2' FROM ("
        + _id_tabular.format(hol="(10,1,'idul_fitri_day_1')")
        + ") t "
        f"LEFT JOIN (VALUES {_id_ov}) ov(gy, onm, od) "
        "ON year(t.tab) = ov.gy AND t.nm = ov.onm "
        "WHERE year(t.tab) = t.y"
    )
    # EG: fixed + guarded national days, Sham El Nessim = Orthodox
    # Easter + 1 (same Julian-computus CTE as GR), and the statutory
    # multi-day Hijri spans off the SA-anchored tabular calendar
    # (Dar al-Ifta tracked Umm al-Qura across the override span).
    _eg_hijri_anchor = (
        "SELECT y, nm, DATE '0622-07-19' + to_days(CAST((hy-1)*354 "
        "+ (11*hy+3)//30 + 29*(hm-1) + hm//2 + hd - 1 AS INT)) AS tab FROM ("
        "SELECT y, CAST(FLOOR((y - 622) * 1.0306) AS INT) + k AS hy FROM yrs, "
        "(VALUES (0),(1),(2)) ks(k)) h, "
        "(VALUES {hol}) hol(hm,hd,nm)"
    )
    _eg_rules = (
        "SELECT make_date(y,1,7) AS d, 'coptic_christmas' AS nm FROM yrs "
        "UNION ALL SELECT make_date(y,4,25), 'sinai_liberation_day' FROM yrs "
        "UNION ALL SELECT make_date(y,5,1), 'labour_day' FROM yrs "
        "UNION ALL SELECT make_date(y,7,23), 'july_23_revolution_day' FROM yrs "
        "UNION ALL SELECT make_date(y,10,6), 'armed_forces_day' FROM yrs "
        "UNION ALL SELECT make_date(y,1,25), 'january_25_revolution_day' "
        "FROM yrs WHERE y >= 2012 "
        "UNION ALL SELECT make_date(y,6,30), 'june_30_revolution_day' "
        "FROM yrs WHERE y >= 2014 "
        "UNION ALL SELECT oe + to_days(1), 'sham_el_nessim' FROM oeaster "
        # multi-day Eids: day offsets off the COALESCE(override, tabular)
        # anchors (Fitr Shawwal 1 + 0..2, Arafat = Adha-1, Adha + 0..2)
        "UNION ALL SELECT COALESCE(ov.od, t.tab) + to_days(os.o), "
        "'eid_al_fitr_day_' || CAST(os.o + 1 AS VARCHAR) FROM ("
        + _eg_hijri_anchor.format(hol="(10,1,'eid_al_fitr')")
        + ") t LEFT JOIN (VALUES {sa_ov}) ov(gy, onm, od) "
        "ON year(t.tab) = ov.gy AND 'eid_al_fitr' = ov.onm "
        ", (VALUES (0),(1),(2)) os(o) WHERE year(t.tab) = t.y "
        "UNION ALL SELECT COALESCE(ov.od, t.tab) - to_days(1), 'arafat_day' "
        "FROM ("
        + _eg_hijri_anchor.format(hol="(12,10,'eid_al_adha')")
        + ") t LEFT JOIN (VALUES {sa_ov}) ov(gy, onm, od) "
        "ON year(t.tab) = ov.gy AND 'eid_al_adha' = ov.onm "
        "WHERE year(t.tab) = t.y "
        "UNION ALL SELECT COALESCE(ov.od, t.tab) + to_days(os.o), "
        "'eid_al_adha_day_' || CAST(os.o + 1 AS VARCHAR) FROM ("
        + _eg_hijri_anchor.format(hol="(12,10,'eid_al_adha')")
        + ") t LEFT JOIN (VALUES {sa_ov}) ov(gy, onm, od) "
        "ON year(t.tab) = ov.gy AND 'eid_al_adha' = ov.onm "
        ", (VALUES (0),(1),(2)) os(o) WHERE year(t.tab) = t.y "
        "UNION ALL SELECT t.tab, t.nm FROM ("
        + _eg_hijri_anchor.format(
            hol="(1,1,'islamic_new_year'),(3,12,'prophets_birthday')"
        )
        + ") t WHERE year(t.tab) = t.y"
    ).replace("{sa_ov}", _sa_ov)
    # CN/KR/VN/TW/HK: the vendored LUNISOLAR arithmetic replayed in
    # SQL — the compressed month-length table as a VALUES list (single
    # source of truth: holidays_vendored._LUNAR_INFO), year lengths
    # from the 12 month bits + the leap nibble, new-year dates as a
    # cumulative window sum off the 1900-01-31 epoch, and per-target
    # month offsets (counting the leap month when it precedes the
    # target) via a 12-month bit scan.
    from functime_spark.operators.holidays_vendored import _LUNAR_INFO

    _lun_vals = ", ".join(
        f"({1900 + i}, {v})" for i, v in enumerate(_LUNAR_INFO)
    )
    _lun_ctes = (
        f"lunraw AS (SELECT * FROM (VALUES {_lun_vals}) lr(ly, info)), "
        "lunyd AS (SELECT ly, info, 348 "
        + " ".join(f"+ ((info >> {16 - m}) & 1)" for m in range(1, 13))
        + " + CASE WHEN (info & 15) > 0 THEN "
        "CASE WHEN ((info >> 16) & 1) = 1 THEN 30 ELSE 29 END ELSE 0 END "
        "AS ydays FROM lunraw), "
        "lny AS (SELECT ly, info, DATE '1900-01-31' + to_days(CAST("
        "COALESCE(SUM(ydays) OVER (ORDER BY ly ROWS BETWEEN UNBOUNDED "
        "PRECEDING AND 1 PRECEDING), 0) AS INT)) AS d0 FROM lunyd), "
        "lun AS (SELECT l.ly, t.lm, t.ld, l.d0 + to_days(CAST("
        "SUM(CASE WHEN m.m < t.lm THEN CASE WHEN ((l.info >> (16 - m.m)) & 1) = 1 "
        "THEN 30 ELSE 29 END ELSE 0 END) "
        "+ CASE WHEN (l.info & 15) > 0 AND (l.info & 15) < t.lm THEN "
        "CASE WHEN ((l.info >> 16) & 1) = 1 THEN 30 ELSE 29 END ELSE 0 END "
        "+ t.ld - 1 AS INT)) AS d "
        "FROM lny l, (VALUES (1,1),(1,2),(1,3),(3,10),(4,8),(4,15),(5,5),"
        "(8,15),(8,16),(9,9)) t(lm, ld), generate_series(1, 12) m(m) "
        "GROUP BY l.ly, l.d0, l.info, t.lm, t.ld)"
    )
    # Qingming solar term: int(y2*0.2422 + 4.81) - y2//4 (trunc, not
    # round -> FLOOR)
    _qingming_sql = (
        "make_date(y, 4, CAST(FLOOR((y % 100) * 0.2422 + 4.81) AS INT) "
        "- (y % 100) // 4)"
    )

    def _lunar_rules(*targets):
        vals = ", ".join(f"({lm},{ld},'{nm}')" for lm, ld, nm in targets)
        return (
            f"SELECT l.d, h.nm FROM lun l JOIN (VALUES {vals}) "
            "h(lm, ld, nm) ON l.lm = h.lm AND l.ld = h.ld "
            "JOIN yrs ON year(l.d) = yrs.y"
        )

    _cn_rules = (
        "SELECT make_date(y,1,1) AS d, 'new_years_day' AS nm FROM yrs "
        "UNION ALL SELECT make_date(y,5,1), 'labour_day' FROM yrs "
        "UNION ALL SELECT make_date(y,10,1), 'national_day' FROM yrs "
        f"UNION ALL SELECT {_qingming_sql}, 'qingming_festival' FROM yrs "
        "WHERE y BETWEEN 2000 AND 2099 "
        "UNION ALL " + _lunar_rules(
            (1, 1, "spring_festival"), (5, 5, "dragon_boat_festival"),
            (8, 15, "mid_autumn_festival"),
        )
    )
    _kr_rules = (
        "SELECT make_date(y,1,1) AS d, 'new_years_day' AS nm FROM yrs "
        "UNION ALL SELECT make_date(y,3,1), 'independence_movement_day' FROM yrs "
        "UNION ALL SELECT make_date(y,5,5), 'childrens_day' FROM yrs "
        "UNION ALL SELECT make_date(y,6,6), 'memorial_day' FROM yrs "
        "UNION ALL SELECT make_date(y,8,15), 'liberation_day' FROM yrs "
        "UNION ALL SELECT make_date(y,10,3), 'national_foundation_day' FROM yrs "
        "UNION ALL SELECT make_date(y,10,9), 'hangul_day' FROM yrs "
        "UNION ALL SELECT make_date(y,12,25), 'christmas_day' FROM yrs "
        "UNION ALL " + _lunar_rules(
            (1, 1, "seollal"), (4, 8, "buddhas_birthday"), (8, 15, "chuseok"),
        )
    )
    _vn_rules = (
        "SELECT make_date(y,1,1) AS d, 'tet_duong_lich' AS nm FROM yrs "
        "UNION ALL SELECT make_date(y,4,30), 'ngay_giai_phong' FROM yrs "
        "UNION ALL SELECT make_date(y,5,1), 'ngay_quoc_te_lao_dong' FROM yrs "
        "UNION ALL SELECT make_date(y,9,2), 'quoc_khanh' FROM yrs "
        "UNION ALL SELECT l.d - to_days(1), 'giao_thua' FROM lun l "
        "JOIN yrs ON year(l.d - to_days(1)) = yrs.y "
        "WHERE l.lm = 1 AND l.ld = 1 "
        "UNION ALL " + _lunar_rules(
            (1, 1, "tet_day_1"), (1, 2, "tet_day_2"), (1, 3, "tet_day_3"),
        )
        + " UNION ALL SELECT l.d, 'gio_to_hung_vuong' FROM lun l "
        "JOIN yrs ON year(l.d) = yrs.y "
        "WHERE l.lm = 3 AND l.ld = 10 AND yrs.y >= 2007"
    )
    _tw_rules = (
        "SELECT make_date(y,1,1) AS d, 'founding_day' AS nm FROM yrs "
        "UNION ALL SELECT make_date(y,10,10), 'national_day' FROM yrs "
        "UNION ALL SELECT make_date(y,2,28), 'peace_memorial_day' FROM yrs "
        "WHERE y >= 1997 "
        "UNION ALL SELECT make_date(y,4,4), 'childrens_day' FROM yrs "
        "WHERE y >= 2011 "
        f"UNION ALL SELECT {_qingming_sql}, 'tomb_sweeping_day' FROM yrs "
        "WHERE y BETWEEN 2000 AND 2099 "
        "UNION ALL SELECT l.d - to_days(1), 'lunar_new_years_eve' FROM lun l "
        "JOIN yrs ON year(l.d - to_days(1)) = yrs.y "
        "WHERE l.lm = 1 AND l.ld = 1 "
        "UNION ALL " + _lunar_rules(
            (1, 1, "lunar_new_year_day_1"), (1, 2, "lunar_new_year_day_2"),
            (1, 3, "lunar_new_year_day_3"), (5, 5, "dragon_boat_festival"),
            (8, 15, "mid_autumn_festival"),
        )
    )
    _hk_rules = (
        "SELECT make_date(y,1,1) AS d, 'the_first_day_of_january' AS nm FROM yrs "
        "UNION ALL SELECT e - to_days(2), 'good_friday' FROM easter "
        "UNION ALL SELECT e - to_days(1), 'the_day_following_good_friday' "
        "FROM easter "
        "UNION ALL SELECT e + to_days(1), 'easter_monday' FROM easter "
        "UNION ALL SELECT make_date(y,5,1), 'labour_day' FROM yrs "
        "UNION ALL SELECT make_date(y,7,1), 'hksar_establishment_day' FROM yrs "
        "UNION ALL SELECT make_date(y,10,1), 'national_day' FROM yrs "
        "UNION ALL SELECT make_date(y,12,25), 'christmas_day' FROM yrs "
        "UNION ALL SELECT make_date(y,12,26), "
        "'the_first_weekday_after_christmas_day' FROM yrs "
        f"UNION ALL SELECT {_qingming_sql}, 'ching_ming_festival' FROM yrs "
        "WHERE y BETWEEN 2000 AND 2099 "
        "UNION ALL " + _lunar_rules(
            (1, 1, "lunar_new_year_day_1"), (1, 2, "lunar_new_year_day_2"),
            (1, 3, "lunar_new_year_day_3"), (4, 8, "the_birthday_of_the_buddha"),
            (5, 5, "tuen_ng_festival"),
            (8, 16, "the_day_following_the_mid_autumn_festival"),
            (9, 9, "chung_yeung_festival"),
        )
    )
    # IL: the HEBREW molad+dechiyot arithmetic replayed in SQL — for
    # candidate Hebrew years y+3760..y+3762 compute months-elapsed,
    # parts, the two postponement steps, anchor the day count at the
    # published Rosh Hashanah 5785 = 2024-10-03 (elapsed 2112590), take
    # the year length from elapsed(hy+1) (hence the third candidate),
    # derive the variable Cheshvan/Kislev lengths + leap Adar I, and
    # shift Independence Day by the statutory weekday rules.
    _heb_ctes = (
        "hys AS (SELECT y + 3760 AS hy FROM yrs UNION "
        "SELECT y + 3761 FROM yrs UNION SELECT y + 3762 FROM yrs), "
        "heb1 AS (SELECT hy, 1 + 29*me + he//24 AS day0, "
        "(he % 24)*1080 + pe % 1080 AS parts, "
        "((7*hy + 1) % 19 < 7) AS leap, ((7*(hy-1) + 1) % 19 < 7) AS leapprev "
        "FROM (SELECT hy, me, pe, 5 + 12*me + 793*(me//1080) + pe//1080 AS he "
        "FROM (SELECT hy, me, 204 + 793*(me % 1080) AS pe "
        "FROM (SELECT hy, 235*((hy-1)//19) + 12*((hy-1)%19) "
        "+ (7*((hy-1)%19) + 1)//19 AS me FROM hys)))), "
        "heb2 AS (SELECT hy, leap, day1 + CASE WHEN day1 % 7 IN (0,3,5) "
        "THEN 1 ELSE 0 END AS el FROM (SELECT hy, leap, day0 + CASE WHEN "
        "parts >= 19440 OR (day0 % 7 = 2 AND parts >= 9924 AND NOT leap) "
        "OR (day0 % 7 = 1 AND parts >= 16789 AND leapprev) "
        "THEN 1 ELSE 0 END AS day1 FROM heb1)), "
        "heb AS (SELECT a.hy, DATE '2024-10-03' "
        "+ to_days(CAST(a.el - 2112590 AS INT)) AS rh, "
        "30 + (CASE WHEN b.el - a.el IN (355, 385) THEN 30 ELSE 29 END) "
        "+ (CASE WHEN b.el - a.el IN (353, 383) THEN 29 ELSE 30 END) "
        "+ 88 + CASE WHEN a.leap THEN 30 ELSE 0 END AS nisoff "
        "FROM heb2 a JOIN heb2 b ON b.hy = a.hy + 1)"
    )
    _il_rules = (
        "SELECT q.d, q.nm FROM ("
        "SELECT rh + to_days(t.hd - 1) AS d, t.nm FROM heb, "
        "(VALUES (1,'rosh_hashanah'),(2,'rosh_hashanah_day_2'),"
        "(10,'yom_kippur'),(15,'sukkot'),(22,'shemini_atzeret')) t(hd, nm) "
        "UNION ALL SELECT rh + to_days(CAST(nisoff + t.hd - 1 AS INT)), t.nm "
        "FROM heb, (VALUES (15,'pesach'),(21,'seventh_of_pesach')) t(hd, nm) "
        "UNION ALL SELECT rh + to_days(CAST(nisoff + 30 + 29 + 5 AS INT)), "
        "'shavuot' FROM heb "
        "UNION ALL SELECT CASE WHEN isodow(i5) = 5 THEN i5 - to_days(1) "
        "WHEN isodow(i5) = 6 THEN i5 - to_days(2) "
        "WHEN isodow(i5) = 1 AND year(i5) >= 2004 THEN i5 + to_days(1) "
        "ELSE i5 END, 'independence_day' FROM "
        "(SELECT rh + to_days(CAST(nisoff + 30 + 4 AS INT)) AS i5 FROM heb) "
        "WHERE year(i5) >= 1948"
        ") q JOIN yrs ON year(q.d) = yrs.y"
    )
    _ph_rules = (
        "SELECT make_date(y,1,1) AS d, 'new_years_day' AS nm FROM yrs "
        "UNION ALL SELECT e - to_days(3), 'maundy_thursday' FROM easter "
        "UNION ALL SELECT e - to_days(2), 'good_friday' FROM easter "
        "UNION ALL SELECT e - to_days(1), 'black_saturday' FROM easter "
        "UNION ALL SELECT make_date(y,4,9), 'araw_ng_kagitingan' FROM yrs "
        "UNION ALL SELECT make_date(y,5,1), 'labor_day' FROM yrs "
        "UNION ALL SELECT make_date(y,6,12), 'independence_day' FROM yrs "
        # last Monday of August (RA 9492, >=2007): Aug 31 minus its
        # Monday-offset; pre-2007 (EO 292) the last SUNDAY of August
        "UNION ALL SELECT make_date(y,8,31) - to_days(CAST((isodow("
        "make_date(y,8,31)) - CASE WHEN y >= 2007 THEN 1 ELSE 7 END "
        "+ 7) % 7 AS INT)), "
        "'national_heroes_day' FROM yrs "
        "UNION ALL SELECT make_date(y,8,21), 'ninoy_aquino_day' FROM yrs "
        "WHERE y >= 2004 "
        "UNION ALL SELECT make_date(y,11,1), 'all_saints_day' FROM yrs "
        "UNION ALL SELECT make_date(y,11,30), 'bonifacio_day' FROM yrs "
        "UNION ALL SELECT make_date(y,12,8), "
        "'feast_of_the_immaculate_conception' FROM yrs "
        "UNION ALL SELECT make_date(y,12,25), 'christmas_day' FROM yrs "
        "UNION ALL SELECT make_date(y,12,30), 'rizal_day' FROM yrs "
        "UNION ALL SELECT make_date(y,12,31), 'last_day_of_the_year' FROM yrs "
        "UNION ALL SELECT l.d, 'chinese_new_year' FROM lun l "
        "JOIN yrs ON year(l.d) = yrs.y "
        "WHERE l.lm = 1 AND l.ld = 1 AND yrs.y >= 2012"
    )
    # TH: fixed/royal rule days + the vendored Thai-lunisolar Bucha
    # tables (single source of truth: holidays_vendored._TH_*); Khao
    # Phansa replays as Asalha + 1 day.
    from functime_spark.operators.holidays_vendored import (
        _TH_ASALHA,
        _TH_MAKHA,
        _TH_VISAKHA,
    )

    _th_bucha = ", ".join(
        f"(DATE '{y}-{m:02d}-{d:02d}', '{nm}')"
        for nm, tbl in (
            ("makha_bucha", _TH_MAKHA),
            ("visakha_bucha", _TH_VISAKHA),
            ("asalha_bucha", _TH_ASALHA),
        )
        for y, (m, d) in sorted(tbl.items())
    )
    _th_asalha_vals = ", ".join(
        f"(DATE '{y}-{m:02d}-{d:02d}')" for y, (m, d) in sorted(_TH_ASALHA.items())
    )
    _th_rules = (
        "SELECT make_date(y,1,1) AS d, 'new_years_day' AS nm FROM yrs "
        "UNION ALL SELECT make_date(y,4,6), 'chakri_memorial_day' FROM yrs "
        "UNION ALL SELECT make_date(y,4,12+s.i), "
        "'songkran_festival_day_' || CAST(s.i AS VARCHAR) "
        "FROM yrs, (VALUES (1),(2),(3)) s(i) "
        "UNION ALL SELECT make_date(y,5,1), 'national_labour_day' FROM yrs "
        "UNION ALL SELECT make_date(y,5,4), 'coronation_day' FROM yrs "
        "WHERE y >= 2019 "
        "UNION ALL SELECT make_date(y,5,5), 'coronation_day' FROM yrs "
        "WHERE y <= 2016 "
        "UNION ALL SELECT make_date(y,6,3), 'queen_suthidas_birthday' "
        "FROM yrs WHERE y >= 2019 "
        "UNION ALL SELECT make_date(y,7,28), 'king_vajiralongkorns_birthday' "
        "FROM yrs WHERE y >= 2017 "
        "UNION ALL SELECT make_date(y,10,13), 'king_bhumibol_memorial_day' "
        "FROM yrs WHERE y >= 2017 "
        "UNION ALL SELECT make_date(y,8,12), 'the_queen_mothers_birthday' "
        "FROM yrs "
        "UNION ALL SELECT make_date(y,10,23), 'chulalongkorn_memorial_day' "
        "FROM yrs "
        "UNION ALL SELECT make_date(y,12,5), 'king_bhumibols_birthday' FROM yrs "
        "UNION ALL SELECT make_date(y,12,10), 'constitution_day' FROM yrs "
        "UNION ALL SELECT make_date(y,12,31), 'new_years_eve' FROM yrs "
        f"UNION ALL SELECT t.d, t.nm FROM (VALUES {_th_bucha}) t(d, nm) "
        "JOIN yrs ON year(t.d) = yrs.y "
        f"UNION ALL SELECT t.d + to_days(1), 'khao_phansa' "
        f"FROM (VALUES {_th_asalha_vals}) t(d) JOIN yrs ON year(t.d) = yrs.y"
    )
    # MY: fixed/rule days, CNY days 1-2 off the shared lunisolar CTE,
    # vendored Wesak/Deepavali, and the four Islamic days from the
    # tabular Hijri arithmetic with MY rukyah-gazetted overrides
    # (Aidilfitri day 2 = anchor + 1).
    from functime_spark.operators.holidays_vendored import (
        _MY_ADHA,
        _MY_DEEPAVALI,
        _MY_FITR,
        _MY_MAULID,
        _MY_MUHARRAM,
        _MY_WESAK,
    )

    _my_ov = ", ".join(
        f"({y}, '{nm}', DATE '{y}-{m:02d}-{d:02d}')"
        for nm, tbl in (
            ("hari_raya_aidilfitri", _MY_FITR),
            ("hari_raya_aidiladha", _MY_ADHA),
            ("awal_muharram", _MY_MUHARRAM),
            ("maulidur_rasul", _MY_MAULID),
        )
        for y, (m, d) in sorted(tbl.items())
    )
    _my_fixed_tbls = ", ".join(
        f"(DATE '{y}-{m:02d}-{d:02d}', '{nm}')"
        for nm, tbl in (
            ("wesak_day", _MY_WESAK), ("deepavali", _MY_DEEPAVALI),
        )
        for y, (m, d) in sorted(tbl.items())
    )
    _my_rules = (
        "SELECT make_date(y,5,1) AS d, 'labour_day' AS nm FROM yrs "
        "UNION ALL SELECT make_date(y,8,31), 'national_day' FROM yrs "
        "UNION ALL SELECT make_date(y,12,25), 'christmas_day' FROM yrs "
        "UNION ALL SELECT make_date(y,9,16), 'malaysia_day' FROM yrs "
        "WHERE y >= 2010 "
        "UNION ALL SELECT make_date(y,6,1) + to_days(CAST((8 - "
        "isodow(make_date(y,6,1))) % 7 AS INT)), 'agongs_birthday' "
        "FROM yrs WHERE y >= 2020 "
        "UNION ALL SELECT make_date(y,9,9), 'agongs_birthday' FROM yrs "
        "WHERE y BETWEEN 2017 AND 2019 "
        "UNION ALL SELECT make_date(y,6,1) + to_days(CAST((13 - "
        "isodow(make_date(y,6,1))) % 7 AS INT)), 'agongs_birthday' "
        "FROM yrs WHERE y <= 2016 "
        "UNION ALL SELECT l.d, 'chinese_new_year' FROM lun l "
        "JOIN yrs ON year(l.d) = yrs.y WHERE l.lm = 1 AND l.ld = 1 "
        "UNION ALL SELECT l.d + to_days(1), 'chinese_new_year_day_2' "
        "FROM lun l JOIN yrs ON year(l.d) = yrs.y "
        "WHERE l.lm = 1 AND l.ld = 1 "
        f"UNION ALL SELECT t.d, t.nm FROM (VALUES {_my_fixed_tbls}) t(d, nm) "
        "JOIN yrs ON year(t.d) = yrs.y "
        "UNION ALL SELECT COALESCE(ov.od, t.tab), t.nm FROM ("
        + _id_tabular.format(
            hol="(10,1,'hari_raya_aidilfitri'),"
            "(12,10,'hari_raya_aidiladha'),"
            "(1,1,'awal_muharram'),(3,12,'maulidur_rasul')"
        )
        + ") t "
        f"LEFT JOIN (VALUES {_my_ov}) ov(gy, onm, od) "
        "ON year(t.tab) = ov.gy AND t.nm = ov.onm "
        "WHERE year(t.tab) = t.y "
        "UNION ALL SELECT COALESCE(ov.od, t.tab) + to_days(1), "
        "'hari_raya_aidilfitri_day_2' FROM ("
        + _id_tabular.format(hol="(10,1,'hari_raya_aidilfitri')")
        + ") t "
        f"LEFT JOIN (VALUES {_my_ov}) ov(gy, onm, od) "
        "ON year(t.tab) = ov.gy AND t.nm = ov.onm "
        "WHERE year(t.tab) = t.y"
    )
    # SG: fixed + Good Friday off the shared computus, CNY days 1-2
    # AND Vesak (lunar 4/15) off the shared lunisolar CTE, tabular
    # Hijri with MUIS-gazetted overrides, vendored Deepavali.
    from functime_spark.operators.holidays_vendored import (
        _SG_DEEPAVALI,
        _SG_HAJI,
        _SG_PUASA,
    )

    _sg_ov = ", ".join(
        f"({y}, '{nm}', DATE '{y}-{m:02d}-{d:02d}')"
        for nm, tbl in (
            ("hari_raya_puasa", _SG_PUASA), ("hari_raya_haji", _SG_HAJI),
        )
        for y, (m, d) in sorted(tbl.items())
    )
    _sg_deep = ", ".join(
        f"(DATE '{y}-{m:02d}-{d:02d}', 'deepavali')"
        for y, (m, d) in sorted(_SG_DEEPAVALI.items())
    )
    _sg_rules = (
        "SELECT make_date(y,1,1) AS d, 'new_years_day' AS nm FROM yrs "
        "UNION ALL SELECT e - to_days(2), 'good_friday' FROM easter "
        "UNION ALL SELECT make_date(y,5,1), 'labour_day' FROM yrs "
        "UNION ALL SELECT make_date(y,8,9), 'national_day' FROM yrs "
        "UNION ALL SELECT make_date(y,12,25), 'christmas_day' FROM yrs "
        "UNION ALL SELECT l.d, 'chinese_new_year' FROM lun l "
        "JOIN yrs ON year(l.d) = yrs.y WHERE l.lm = 1 AND l.ld = 1 "
        "UNION ALL SELECT l.d + to_days(1), 'chinese_new_year_day_2' "
        "FROM lun l JOIN yrs ON year(l.d) = yrs.y "
        "WHERE l.lm = 1 AND l.ld = 1 "
        "UNION ALL SELECT l.d, 'vesak_day' FROM lun l "
        "JOIN yrs ON year(l.d) = yrs.y WHERE l.lm = 4 AND l.ld = 15 "
        f"UNION ALL SELECT t.d, t.nm FROM (VALUES {_sg_deep}) t(d, nm) "
        "JOIN yrs ON year(t.d) = yrs.y "
        "UNION ALL SELECT COALESCE(ov.od, t.tab), t.nm FROM ("
        + _id_tabular.format(
            hol="(10,1,'hari_raya_puasa'),(12,10,'hari_raya_haji')"
        )
        + ") t "
        f"LEFT JOIN (VALUES {_sg_ov}) ov(gy, onm, od) "
        "ON year(t.tab) = ov.gy AND t.nm = ov.onm "
        "WHERE year(t.tab) = t.y"
    )
    # --- round 9: 15 more calendars SQL-replayed (25 -> 40 of the 49
    # vendored) — the Western-computus pack (FR/ES/IT/AT/IE/BE/AU/HR),
    # the Orthodox pack (RO/BG off the shared Julian computus), the
    # statutory-shift pack (NZ Mondayization + Matariki table, CO Ley
    # Emiliani next-Monday moves), fixed-only RU/PE, and TR's
    # multi-day Hijri bayrams off the shared tabular arithmetic.
    _fr_rules = (
        "SELECT make_date(y,1,1) AS d, 'jour_de_lan' AS nm FROM yrs "
        "UNION ALL SELECT e + to_days(1), 'lundi_de_paques' FROM easter "
        "UNION ALL SELECT make_date(y,5,1), 'fete_du_travail' FROM yrs "
        "UNION ALL SELECT make_date(y,5,8), 'armistice_1945' FROM yrs "
        "UNION ALL SELECT e + to_days(39), 'ascension' FROM easter "
        "UNION ALL SELECT e + to_days(50), 'lundi_de_pentecote' FROM easter "
        "UNION ALL SELECT make_date(y,7,14), 'fete_nationale' FROM yrs "
        "UNION ALL SELECT make_date(y,8,15), 'assomption' FROM yrs "
        "UNION ALL SELECT make_date(y,11,1), 'toussaint' FROM yrs "
        "UNION ALL SELECT make_date(y,11,11), 'armistice_1918' FROM yrs "
        "UNION ALL SELECT make_date(y,12,25), 'noel' FROM yrs"
    )
    _es_rules = (
        "SELECT make_date(y,1,1) AS d, 'ano_nuevo' AS nm FROM yrs "
        "UNION ALL SELECT make_date(y,1,6), 'epifania_del_senor' FROM yrs "
        "UNION ALL SELECT e - to_days(2), 'viernes_santo' FROM easter "
        "UNION ALL SELECT make_date(y,5,1), 'fiesta_del_trabajo' FROM yrs "
        "UNION ALL SELECT make_date(y,8,15), 'asuncion_de_la_virgen' FROM yrs "
        "UNION ALL SELECT make_date(y,10,12), 'fiesta_nacional_de_espana' FROM yrs "
        "UNION ALL SELECT make_date(y,11,1), 'todos_los_santos' FROM yrs "
        "UNION ALL SELECT make_date(y,12,6), 'dia_de_la_constitucion_espanola' FROM yrs "
        "UNION ALL SELECT make_date(y,12,8), 'inmaculada_concepcion' FROM yrs "
        "UNION ALL SELECT make_date(y,12,25), 'natividad_del_senor' FROM yrs"
    )
    _it_rules = (
        "SELECT make_date(y,1,1) AS d, 'capodanno' AS nm FROM yrs "
        "UNION ALL SELECT make_date(y,1,6), 'epifania_del_signore' FROM yrs "
        "UNION ALL SELECT e + to_days(1), 'lunedi_dellangelo' FROM easter "
        "UNION ALL SELECT make_date(y,4,25), 'festa_della_liberazione' FROM yrs "
        "UNION ALL SELECT make_date(y,5,1), 'festa_dei_lavoratori' FROM yrs "
        "UNION ALL SELECT make_date(y,6,2), 'festa_della_repubblica' FROM yrs "
        "UNION ALL SELECT make_date(y,8,15), 'assunzione_della_vergine' FROM yrs "
        "UNION ALL SELECT make_date(y,11,1), 'tutti_i_santi' FROM yrs "
        "UNION ALL SELECT make_date(y,12,8), 'immacolata_concezione' FROM yrs "
        "UNION ALL SELECT make_date(y,12,25), 'natale' FROM yrs "
        "UNION ALL SELECT make_date(y,12,26), 'santo_stefano' FROM yrs"
    )
    _at_rules = (
        "SELECT make_date(y,1,1) AS d, 'neujahr' AS nm FROM yrs "
        "UNION ALL SELECT make_date(y,1,6), 'heilige_drei_konige' FROM yrs "
        "UNION ALL SELECT e + to_days(1), 'ostermontag' FROM easter "
        "UNION ALL SELECT make_date(y,5,1), 'staatsfeiertag' FROM yrs "
        "UNION ALL SELECT e + to_days(39), 'christi_himmelfahrt' FROM easter "
        "UNION ALL SELECT e + to_days(50), 'pfingstmontag' FROM easter "
        "UNION ALL SELECT e + to_days(60), 'fronleichnam' FROM easter "
        "UNION ALL SELECT make_date(y,8,15), 'maria_himmelfahrt' FROM yrs "
        "UNION ALL SELECT make_date(y,10,26), 'nationalfeiertag' FROM yrs "
        "UNION ALL SELECT make_date(y,11,1), 'allerheiligen' FROM yrs "
        "UNION ALL SELECT make_date(y,12,8), 'maria_empfangnis' FROM yrs "
        "UNION ALL SELECT make_date(y,12,25), 'christtag' FROM yrs "
        "UNION ALL SELECT make_date(y,12,26), 'stefanitag' FROM yrs"
    )
    _ie_rules = (
        "SELECT make_date(y,1,1) AS d, 'new_years_day' AS nm FROM yrs "
        "UNION ALL SELECT make_date(y,3,17), 'st._patricks_day' FROM yrs "
        "UNION ALL SELECT e + to_days(1), 'easter_monday' FROM easter "
        "UNION ALL SELECT make_date(y,5,1) + to_days(CAST((8 - isodow(make_date(y,5,1))) % 7 AS INT)), "
        "'may_day' FROM yrs "
        "UNION ALL SELECT make_date(y,6,1) + to_days(CAST((8 - isodow(make_date(y,6,1))) % 7 AS INT)), "
        "'june_bank_holiday' FROM yrs "
        "UNION ALL SELECT make_date(y,8,1) + to_days(CAST((8 - isodow(make_date(y,8,1))) % 7 AS INT)), "
        "'august_bank_holiday' FROM yrs "
        "UNION ALL SELECT make_date(y,10,31) - to_days(CAST((isodow(make_date(y,10,31)) - 1) % 7 AS INT)), "
        "'october_bank_holiday' FROM yrs "
        # St Brigid's (2023+): first Monday of Feb, unless Feb 1 IS a Friday
        "UNION ALL SELECT CASE WHEN isodow(make_date(y,2,1)) = 5 "
        "THEN make_date(y,2,1) ELSE make_date(y,2,1) "
        "+ to_days(CAST((8 - isodow(make_date(y,2,1))) % 7 AS INT)) END, "
        "'st._brigids_day' FROM yrs WHERE y >= 2023 "
        "UNION ALL SELECT make_date(y,12,25), 'christmas_day' FROM yrs "
        "UNION ALL SELECT make_date(y,12,26), 'st._stephens_day' FROM yrs"
    )
    _be_rules = (
        "SELECT make_date(y,1,1) AS d, 'new_years_day' AS nm FROM yrs "
        "UNION ALL SELECT e + to_days(1), 'easter_monday' FROM easter "
        "UNION ALL SELECT make_date(y,5,1), 'labour_day' FROM yrs "
        "UNION ALL SELECT e + to_days(39), 'ascension_day' FROM easter "
        "UNION ALL SELECT e + to_days(50), 'whit_monday' FROM easter "
        "UNION ALL SELECT make_date(y,7,21), 'national_day' FROM yrs "
        "UNION ALL SELECT make_date(y,8,15), 'assumption_day' FROM yrs "
        "UNION ALL SELECT make_date(y,11,1), 'all_saints_day' FROM yrs "
        "UNION ALL SELECT make_date(y,11,11), 'armistice_day' FROM yrs "
        "UNION ALL SELECT make_date(y,12,25), 'christmas_day' FROM yrs"
    )
    _au_rules = (
        "SELECT make_date(y,1,1) AS d, 'new_years_day' AS nm FROM yrs "
        "UNION ALL SELECT make_date(y,1,26), 'australia_day' FROM yrs "
        "UNION ALL SELECT e - to_days(2), 'good_friday' FROM easter "
        "UNION ALL SELECT e + to_days(1), 'easter_monday' FROM easter "
        "UNION ALL SELECT make_date(y,4,25), 'anzac_day' FROM yrs "
        "UNION ALL SELECT make_date(y,6,1) + to_days(CAST((8 - isodow(make_date(y,6,1))) % 7 + 7 AS INT)), "
        "'sovereigns_birthday' FROM yrs "
        "UNION ALL SELECT make_date(y,12,25), 'christmas_day' FROM yrs "
        "UNION ALL SELECT make_date(y,12,26), 'boxing_day' FROM yrs"
    )
    # NZ: Holidays Act Mondayization — the New Year's/Christmas PAIRS
    # jump +2 (Sat->Mon, Sun->Tue) because the pair occupies both
    # following days; Waitangi/ANZAC move to the following Monday only
    # (2013 amendment, statutory from 2014). Matariki is a published
    # table (maramataka), vendored as VALUES.
    from functime_spark.operators.holidays_vendored import _NZ_MATARIKI

    _nz_pairs = [
        (1, 1, "new_years_day"),
        (1, 2, "day_after_new_years_day"),
        (12, 25, "christmas_day"),
        (12, 26, "boxing_day"),
    ]
    _nz_matariki = ", ".join(
        f"(DATE '{y}-{m:02d}-{d:02d}', 'matariki')"
        for y, (m, d) in sorted(_NZ_MATARIKI.items())
    )
    _nz_rules = (
        "SELECT e - to_days(2) AS d, 'good_friday' AS nm FROM easter "
        "UNION ALL SELECT e + to_days(1), 'easter_monday' FROM easter "
        "UNION ALL SELECT make_date(y,6,1) + to_days(CAST((8 - isodow(make_date(y,6,1))) % 7 AS INT)), "
        "'sovereigns_birthday' FROM yrs "
        "UNION ALL SELECT make_date(y,10,1) + to_days(CAST((8 - isodow(make_date(y,10,1))) % 7 + 21 AS INT)), "
        "'labour_day' FROM yrs "
        + "".join(
            f" UNION ALL SELECT make_date(y,{m},{d}), '{nm}' FROM yrs "
            f"UNION ALL SELECT make_date(y,{m},{d}) + to_days(2), "
            f"'{nm}_(observed)' FROM yrs "
            f"WHERE isodow(make_date(y,{m},{d})) >= 6"
            for m, d, nm in _nz_pairs
        )
        + " UNION ALL SELECT make_date(y,2,6), 'waitangi_day' FROM yrs "
        "UNION ALL SELECT make_date(y,2,6) + to_days(CAST(8 - isodow(make_date(y,2,6)) AS INT)), "
        "'waitangi_day_(observed)' FROM yrs "
        "WHERE y >= 2014 AND isodow(make_date(y,2,6)) >= 6 "
        "UNION ALL SELECT make_date(y,4,25), 'anzac_day' FROM yrs "
        "UNION ALL SELECT make_date(y,4,25) + to_days(CAST(8 - isodow(make_date(y,4,25)) AS INT)), "
        "'anzac_day_(observed)' FROM yrs "
        "WHERE y >= 2014 AND isodow(make_date(y,4,25)) >= 6 "
        f"UNION ALL SELECT t.d, t.nm FROM (VALUES {_nz_matariki}) t(d, nm) "
        "JOIN yrs ON year(t.d) = yrs.y"
    )
    _ru_rules = (
        "SELECT make_date(y,1,CAST(g.i AS INT)) AS d, "
        "'new_year_holidays_day_' || CAST(g.i AS VARCHAR) AS nm "
        "FROM yrs, generate_series(1, 6) g(i) "
        "UNION ALL SELECT make_date(y,1,7), 'christmas_day' FROM yrs "
        "UNION ALL SELECT make_date(y,1,8), 'new_year_holidays_day_8' FROM yrs "
        "UNION ALL SELECT make_date(y,2,23), 'defender_of_the_fatherland_day' FROM yrs "
        "UNION ALL SELECT make_date(y,3,8), 'international_womens_day' FROM yrs "
        "UNION ALL SELECT make_date(y,5,1), 'spring_and_labour_day' FROM yrs "
        "UNION ALL SELECT make_date(y,5,9), 'victory_day' FROM yrs "
        "UNION ALL SELECT make_date(y,6,12), 'russia_day' FROM yrs "
        "UNION ALL SELECT make_date(y,11,4), 'unity_day' FROM yrs"
    )
    _ro_rules = (
        "SELECT make_date(y,1,1) AS d, 'anul_nou' AS nm FROM yrs "
        "UNION ALL SELECT make_date(y,1,2), 'anul_nou_ziua_2' FROM yrs "
        "UNION ALL SELECT oe, 'pastele' FROM oeaster "
        "UNION ALL SELECT oe + to_days(1), 'a_doua_zi_de_paste' FROM oeaster "
        "UNION ALL SELECT make_date(y,5,1), 'ziua_muncii' FROM yrs "
        "UNION ALL SELECT oe + to_days(49), 'rusaliile' FROM oeaster "
        "UNION ALL SELECT oe + to_days(50), 'a_doua_zi_de_rusalii' FROM oeaster "
        "UNION ALL SELECT make_date(y,8,15), 'adormirea_maicii_domnului' FROM yrs "
        "UNION ALL SELECT make_date(y,12,1), 'ziua_nationala' FROM yrs "
        "UNION ALL SELECT make_date(y,12,25), 'craciunul' FROM yrs "
        "UNION ALL SELECT make_date(y,12,26), 'a_doua_zi_de_craciun' FROM yrs "
        "UNION ALL SELECT make_date(y,11,30), 'sfantul_andrei' FROM yrs WHERE y >= 2012 "
        "UNION ALL SELECT make_date(y,1,24), 'ziua_unirii_principatelor_romane' "
        "FROM yrs WHERE y >= 2017 "
        "UNION ALL SELECT make_date(y,6,1), 'ziua_copilului' FROM yrs WHERE y >= 2017 "
        "UNION ALL SELECT oe - to_days(2), 'vinerea_mare' FROM oeaster "
        "WHERE y >= 2018"
    )
    _bg_rules = (
        "SELECT make_date(y,1,1) AS d, 'nova_godina' AS nm FROM yrs "
        "UNION ALL SELECT make_date(y,3,3), 'den_na_osvobozhdenieto' FROM yrs "
        "UNION ALL SELECT oe - to_days(2), 'velikden_petak' FROM oeaster "
        "UNION ALL SELECT oe - to_days(1), 'velikden_sabota' FROM oeaster "
        "UNION ALL SELECT oe, 'velikden' FROM oeaster "
        "UNION ALL SELECT oe + to_days(1), 'velikden_ponedelnik' FROM oeaster "
        "UNION ALL SELECT make_date(y,5,1), 'den_na_truda' FROM yrs "
        "UNION ALL SELECT make_date(y,5,6), 'gergovden' FROM yrs "
        "UNION ALL SELECT make_date(y,5,24), 'den_na_bulgarskata_prosveta_i_kultura' FROM yrs "
        "UNION ALL SELECT make_date(y,9,6), 'den_na_saedinenieto' FROM yrs "
        "UNION ALL SELECT make_date(y,9,22), 'den_na_nezavisimostta' FROM yrs "
        "UNION ALL SELECT make_date(y,12,24), 'badni_vecher' FROM yrs "
        "UNION ALL SELECT make_date(y,12,25), 'rozhdestvo_hristovo' FROM yrs "
        "UNION ALL SELECT make_date(y,12,26), 'rozhdestvo_hristovo_vtori_den' FROM yrs"
    )
    _hr_rules = (
        "SELECT make_date(y,1,1) AS d, 'nova_godina' AS nm FROM yrs "
        "UNION ALL SELECT make_date(y,1,6), 'bogojavljenje' FROM yrs "
        "UNION ALL SELECT e, 'uskrs' FROM easter "
        "UNION ALL SELECT e + to_days(1), 'uskrsni_ponedjeljak' FROM easter "
        "UNION ALL SELECT e + to_days(60), 'tijelovo' FROM easter "
        "UNION ALL SELECT make_date(y,5,1), 'praznik_rada' FROM yrs "
        "UNION ALL SELECT make_date(y,6,22), 'dan_antifasisticke_borbe' FROM yrs "
        "UNION ALL SELECT make_date(y,8,5), 'dan_pobjede_i_domovinske_zahvalnosti' FROM yrs "
        "UNION ALL SELECT make_date(y,8,15), 'velika_gospa' FROM yrs "
        "UNION ALL SELECT make_date(y,11,1), 'svi_sveti' FROM yrs "
        "UNION ALL SELECT make_date(y,12,25), 'bozic' FROM yrs "
        "UNION ALL SELECT make_date(y,12,26), 'sveti_stjepan' FROM yrs "
        "UNION ALL SELECT make_date(y,5,30), 'dan_drzavnosti' FROM yrs WHERE y >= 2020 "
        "UNION ALL SELECT make_date(y,11,18), 'dan_sjecanja_na_zrtve_domovinskog_rata' "
        "FROM yrs WHERE y >= 2020 "
        "UNION ALL SELECT make_date(y,6,25), 'dan_drzavnosti' FROM yrs "
        "WHERE y >= 2002 AND y < 2020 "
        "UNION ALL SELECT make_date(y,10,8), 'dan_neovisnosti' FROM yrs "
        "WHERE y >= 2002 AND y < 2020"
    )
    # CO: Ley Emiliani (1984+) — seven feasts observe on the FOLLOWING
    # Monday unless already one ((8 - isodow) % 7 days forward); the
    # three Easter-offset feasts land on fixed moved offsets
    # (+39->+43, +60->+64, +68->+71).
    _co_movable = [
        (1, 6, "dia_de_los_reyes_magos"),
        (3, 19, "dia_de_san_jose"),
        (6, 29, "san_pedro_y_san_pablo"),
        (8, 15, "asuncion_de_la_virgen"),
        (10, 12, "dia_de_la_raza"),
        (11, 1, "dia_de_todos_los_santos"),
        (11, 11, "independencia_de_cartagena"),
    ]
    _co_rules = (
        "SELECT make_date(y,1,1) AS d, 'ano_nuevo' AS nm FROM yrs "
        "UNION ALL SELECT e - to_days(3), 'jueves_santo' FROM easter "
        "UNION ALL SELECT e - to_days(2), 'viernes_santo' FROM easter "
        "UNION ALL SELECT make_date(y,5,1), 'dia_del_trabajo' FROM yrs "
        "UNION ALL SELECT make_date(y,7,20), 'dia_de_la_independencia' FROM yrs "
        "UNION ALL SELECT make_date(y,8,7), 'batalla_de_boyaca' FROM yrs "
        "UNION ALL SELECT make_date(y,12,8), 'inmaculada_concepcion' FROM yrs "
        "UNION ALL SELECT make_date(y,12,25), 'navidad' FROM yrs "
        + "".join(
            f" UNION ALL SELECT make_date(y,{m},{d}) "
            f"+ to_days(CAST((8 - isodow(make_date(y,{m},{d}))) % 7 AS INT)), "
            f"'{nm}' FROM yrs WHERE y >= 1984"
            for m, d, nm in _co_movable
        )
        + " UNION ALL SELECT e + to_days(43), 'ascension_del_senor' FROM easter "
        "WHERE y >= 1984 "
        "UNION ALL SELECT e + to_days(64), 'corpus_christi' FROM easter "
        "WHERE y >= 1984 "
        "UNION ALL SELECT e + to_days(71), 'sagrado_corazon' FROM easter "
        "WHERE y >= 1984"
    )
    _pe_rules = (
        "SELECT make_date(y,1,1) AS d, 'ano_nuevo' AS nm FROM yrs "
        "UNION ALL SELECT e - to_days(3), 'jueves_santo' FROM easter "
        "UNION ALL SELECT e - to_days(2), 'viernes_santo' FROM easter "
        "UNION ALL SELECT make_date(y,5,1), 'dia_del_trabajo' FROM yrs "
        "UNION ALL SELECT make_date(y,6,29), 'san_pedro_y_san_pablo' FROM yrs "
        "UNION ALL SELECT make_date(y,7,28), 'fiestas_patrias' FROM yrs "
        "UNION ALL SELECT make_date(y,7,29), 'fiestas_patrias_day_2' FROM yrs "
        "UNION ALL SELECT make_date(y,8,30), 'santa_rosa_de_lima' FROM yrs "
        "UNION ALL SELECT make_date(y,10,8), 'combate_de_angamos' FROM yrs "
        "UNION ALL SELECT make_date(y,11,1), 'dia_de_todos_los_santos' FROM yrs "
        "UNION ALL SELECT make_date(y,12,8), 'inmaculada_concepcion' FROM yrs "
        "UNION ALL SELECT make_date(y,12,25), 'navidad' FROM yrs"
    )
    # TR: the multi-day bayrams as offsets off the tabular-Hijri
    # anchors (Diyanet tracked the KSA gazetted dates across the
    # override span, so the anchors reuse _SA_EID_* — same single
    # source of truth as the vendored _tr).
    _tr_fitr_ov = ", ".join(
        f"({y}, 'rb', DATE '{y}-{m:02d}-{d:02d}')"
        for y, (m, d) in sorted(_SA_EID_FITR.items())
    )
    _tr_adha_ov = ", ".join(
        f"({y}, 'kb', DATE '{y}-{m:02d}-{d:02d}')"
        for y, (m, d) in sorted(_SA_EID_ADHA.items())
    )
    _tr_rules = (
        "SELECT make_date(y,1,1) AS d, 'new_years_day' AS nm FROM yrs "
        "UNION ALL SELECT make_date(y,4,23), "
        "'national_sovereignty_and_childrens_day' FROM yrs "
        "UNION ALL SELECT make_date(y,5,19), "
        "'commemoration_of_ataturk_youth_and_sports_day' FROM yrs "
        "UNION ALL SELECT make_date(y,8,30), 'victory_day' FROM yrs "
        "UNION ALL SELECT make_date(y,10,29), 'republic_day' FROM yrs "
        "UNION ALL SELECT make_date(y,5,1), 'labour_and_solidarity_day' "
        "FROM yrs WHERE y >= 2009 "
        "UNION ALL SELECT make_date(y,7,15), 'democracy_and_national_unity_day' "
        "FROM yrs WHERE y >= 2017 "
        "UNION ALL SELECT COALESCE(ov.od, t.tab) + to_days(os.o), "
        "'ramazan_bayrami_day_' || CAST(os.o + 1 AS VARCHAR) FROM ("
        + _id_tabular.format(hol="(10,1,'rb')")
        + ") t "
        f"LEFT JOIN (VALUES {_tr_fitr_ov}) ov(gy, onm, od) "
        "ON year(t.tab) = ov.gy AND t.nm = ov.onm, "
        "(VALUES (0),(1),(2)) os(o) "
        "WHERE year(t.tab) = t.y "
        "UNION ALL SELECT COALESCE(ov.od, t.tab) + to_days(os.o), "
        "'kurban_bayrami_day_' || CAST(os.o + 1 AS VARCHAR) FROM ("
        + _id_tabular.format(hol="(12,10,'kb')")
        + ") t "
        f"LEFT JOIN (VALUES {_tr_adha_ov}) ov(gy, onm, od) "
        "ON year(t.tab) = ov.gy AND t.nm = ov.onm, "
        "(VALUES (0),(1),(2),(3)) os(o) "
        "WHERE year(t.tab) = t.y"
    )
    # --- round 9b: the LAST nine — every vendored calendar is now
    # SQL-replayed (49/49). DK (Store Bededag abolished 2024), SE/FI
    # (floating-Saturday rules: the Sat on-or-after Jun 20 / Oct 31 is
    # d + (13 - isodow) % 7 days), CH federal-only, PL/HU/SK/CZ
    # (computus + statutory year guards), IN (the three all-India
    # gazetted days).
    _sat_after = "+ to_days(CAST((13 - isodow(make_date(y,{m},{d}))) % 7 AS INT))"
    _dk_rules = (
        "SELECT make_date(y,1,1) AS d, 'nytaarsdag' AS nm FROM yrs "
        "UNION ALL SELECT e - to_days(3), 'skaertorsdag' FROM easter "
        "UNION ALL SELECT e - to_days(2), 'langfredag' FROM easter "
        "UNION ALL SELECT e, 'paaskedag' FROM easter "
        "UNION ALL SELECT e + to_days(1), 'anden_paaskedag' FROM easter "
        "UNION ALL SELECT e + to_days(39), 'kristi_himmelfartsdag' FROM easter "
        "UNION ALL SELECT e + to_days(49), 'pinsedag' FROM easter "
        "UNION ALL SELECT e + to_days(50), 'anden_pinsedag' FROM easter "
        "UNION ALL SELECT e + to_days(26), 'store_bededag' FROM easter "
        "WHERE y < 2024 "
        "UNION ALL SELECT make_date(y,12,25), 'juledag' FROM yrs "
        "UNION ALL SELECT make_date(y,12,26), 'anden_juledag' FROM yrs"
    )
    _se_rules = (
        "SELECT make_date(y,1,1) AS d, 'nyarsdagen' AS nm FROM yrs "
        "UNION ALL SELECT make_date(y,1,6), 'trettondedag_jul' FROM yrs "
        "UNION ALL SELECT e - to_days(2), 'langfredagen' FROM easter "
        "UNION ALL SELECT e, 'paskdagen' FROM easter "
        "UNION ALL SELECT e + to_days(1), 'annandag_pask' FROM easter "
        "UNION ALL SELECT make_date(y,5,1), 'forsta_maj' FROM yrs "
        "UNION ALL SELECT e + to_days(39), 'kristi_himmelsfardsdag' FROM easter "
        "UNION ALL SELECT e + to_days(49), 'pingstdagen' FROM easter "
        "UNION ALL SELECT make_date(y,6,6), 'nationaldagen' FROM yrs "
        "UNION ALL SELECT make_date(y,6,20) " + _sat_after.format(m=6, d=20)
        + ", 'midsommardagen' FROM yrs "
        "UNION ALL SELECT make_date(y,10,31) " + _sat_after.format(m=10, d=31)
        + ", 'alla_helgons_dag' FROM yrs "
        "UNION ALL SELECT make_date(y,12,25), 'juldagen' FROM yrs "
        "UNION ALL SELECT make_date(y,12,26), 'annandag_jul' FROM yrs"
    )
    _fi_rules = (
        "SELECT make_date(y,1,1) AS d, 'new_years_day' AS nm FROM yrs "
        "UNION ALL SELECT make_date(y,1,6), 'epiphany' FROM yrs "
        "UNION ALL SELECT e - to_days(2), 'good_friday' FROM easter "
        "UNION ALL SELECT e + to_days(1), 'easter_monday' FROM easter "
        "UNION ALL SELECT make_date(y,5,1), 'may_day' FROM yrs "
        "UNION ALL SELECT e + to_days(39), 'ascension_day' FROM easter "
        "UNION ALL SELECT make_date(y,6,20) " + _sat_after.format(m=6, d=20)
        + ", 'midsummer_day' FROM yrs "
        "UNION ALL SELECT make_date(y,10,31) " + _sat_after.format(m=10, d=31)
        + ", 'all_saints_day' FROM yrs "
        "UNION ALL SELECT make_date(y,12,6), 'independence_day' FROM yrs "
        "UNION ALL SELECT make_date(y,12,25), 'christmas_day' FROM yrs "
        "UNION ALL SELECT make_date(y,12,26), 'second_day_of_christmas' FROM yrs"
    )
    _ch_rules = (
        "SELECT make_date(y,1,1) AS d, 'neujahrstag' AS nm FROM yrs "
        "UNION ALL SELECT e + to_days(39), 'auffahrt' FROM easter "
        "UNION ALL SELECT make_date(y,8,1), 'bundesfeier' FROM yrs "
        "UNION ALL SELECT make_date(y,12,25), 'weihnachtstag' FROM yrs"
    )
    _pl_rules = (
        "SELECT make_date(y,1,1) AS d, 'nowy_rok' AS nm FROM yrs "
        "UNION ALL SELECT e, 'wielkanoc' FROM easter "
        "UNION ALL SELECT e + to_days(1), 'poniedzialek_wielkanocny' FROM easter "
        "UNION ALL SELECT make_date(y,5,1), 'swieto_pracy' FROM yrs "
        "UNION ALL SELECT make_date(y,5,3), 'swieto_konstytucji' FROM yrs "
        "UNION ALL SELECT e + to_days(49), 'zielone_swiatki' FROM easter "
        "UNION ALL SELECT e + to_days(60), 'boze_cialo' FROM easter "
        "UNION ALL SELECT make_date(y,8,15), 'wniebowziecie' FROM yrs "
        "UNION ALL SELECT make_date(y,11,1), 'wszystkich_swietych' FROM yrs "
        "UNION ALL SELECT make_date(y,11,11), 'swieto_niepodleglosci' FROM yrs "
        "UNION ALL SELECT make_date(y,12,25), 'boze_narodzenie' FROM yrs "
        "UNION ALL SELECT make_date(y,12,26), 'drugi_dzien_swiat' FROM yrs "
        "UNION ALL SELECT make_date(y,1,6), 'trzech_kroli' FROM yrs "
        "WHERE y >= 2011 "
        "UNION ALL SELECT make_date(y,12,24), 'wigilia' FROM yrs "
        "WHERE y >= 2025"
    )
    _hu_rules = (
        "SELECT make_date(y,1,1) AS d, 'ujev' AS nm FROM yrs "
        "UNION ALL SELECT make_date(y,3,15), 'nemzeti_unnep_marcius_15' FROM yrs "
        "UNION ALL SELECT e + to_days(1), 'husvethetfo' FROM easter "
        "UNION ALL SELECT make_date(y,5,1), 'a_munka_unnepe' FROM yrs "
        "UNION ALL SELECT e + to_days(50), 'punkosdhetfo' FROM easter "
        "UNION ALL SELECT make_date(y,8,20), 'az_allamalapitas_unnepe' FROM yrs "
        "UNION ALL SELECT make_date(y,11,1), 'mindenszentek' FROM yrs "
        "UNION ALL SELECT make_date(y,12,25), 'karacsony' FROM yrs "
        "UNION ALL SELECT make_date(y,12,26), 'karacsony_masnapja' FROM yrs "
        "UNION ALL SELECT make_date(y,10,23), 'nemzeti_unnep_oktober_23' "
        "FROM yrs WHERE y >= 1991 "
        "UNION ALL SELECT e - to_days(2), 'nagypentek' FROM easter "
        "WHERE y >= 2017"
    )
    _sk_rules = (
        "SELECT make_date(y,1,1) AS d, 'den_vzniku_slovenskej_republiky' AS nm FROM yrs "
        "UNION ALL SELECT make_date(y,1,6), 'zjavenie_pana' FROM yrs "
        "UNION ALL SELECT e - to_days(2), 'velky_piatok' FROM easter "
        "UNION ALL SELECT e + to_days(1), 'velkonocny_pondelok' FROM easter "
        "UNION ALL SELECT make_date(y,5,1), 'sviatok_prace' FROM yrs "
        "UNION ALL SELECT make_date(y,5,8), 'den_vitazstva_nad_fasizmom' FROM yrs "
        "UNION ALL SELECT make_date(y,7,5), 'sviatok_svateho_cyrila_a_metoda' FROM yrs "
        "UNION ALL SELECT make_date(y,8,29), 'vyrocie_snp' FROM yrs "
        "UNION ALL SELECT make_date(y,9,15), 'sedembolestna_panna_maria' FROM yrs "
        "UNION ALL SELECT make_date(y,11,1), 'sviatok_vsetkych_svatych' FROM yrs "
        "UNION ALL SELECT make_date(y,11,17), 'den_boja_za_slobodu_a_demokraciu' FROM yrs "
        "UNION ALL SELECT make_date(y,12,24), 'stedry_den' FROM yrs "
        "UNION ALL SELECT make_date(y,12,25), 'prvy_sviatok_vianocny' FROM yrs "
        "UNION ALL SELECT make_date(y,12,26), 'druhy_sviatok_vianocny' FROM yrs "
        "UNION ALL SELECT make_date(y,9,1), 'den_ustavy_slovenskej_republiky' "
        "FROM yrs WHERE y <= 2023"
    )
    _cz_rules = (
        "SELECT make_date(y,1,1) AS d, 'new_years_day' AS nm FROM yrs "
        "UNION ALL SELECT e + to_days(1), 'easter_monday' FROM easter "
        "UNION ALL SELECT make_date(y,5,1), 'labour_day' FROM yrs "
        "UNION ALL SELECT make_date(y,5,8), 'victory_day' FROM yrs "
        "UNION ALL SELECT make_date(y,7,5), 'saints_cyril_and_methodius_day' FROM yrs "
        "UNION ALL SELECT make_date(y,7,6), 'jan_hus_day' FROM yrs "
        "UNION ALL SELECT make_date(y,9,28), 'czech_statehood_day' FROM yrs "
        "UNION ALL SELECT make_date(y,10,28), 'independent_czechoslovak_state_day' FROM yrs "
        "UNION ALL SELECT make_date(y,11,17), 'struggle_for_freedom_and_democracy_day' FROM yrs "
        "UNION ALL SELECT make_date(y,12,24), 'christmas_eve' FROM yrs "
        "UNION ALL SELECT make_date(y,12,25), 'christmas_day' FROM yrs "
        "UNION ALL SELECT make_date(y,12,26), 'second_day_of_christmas' FROM yrs "
        "UNION ALL SELECT e - to_days(2), 'good_friday' FROM easter "
        "WHERE y >= 2016"
    )
    _in_rules = (
        "SELECT make_date(y,1,26) AS d, 'republic_day' AS nm FROM yrs "
        "UNION ALL SELECT make_date(y,8,15), 'independence_day' FROM yrs "
        "UNION ALL SELECT make_date(y,10,2), 'gandhi_jayanti' FROM yrs"
    )
    o["future_holidays"] = (
        "WITH c AS (SELECT user_id, MAX(ts) AS low FROM events GROUP BY user_id), "
        "fut AS (SELECT c.user_id, c.low + i * INTERVAL '1 day' AS ts "
        "FROM c, generate_series(1, 400) AS g(i)), "
        "yrs AS (SELECT DISTINCT year(ts) AS y FROM fut), "
        f"{_computus}, {_ocomputus}, {_lun_ctes}, {_heb_ctes}, "
        # per-date name merge ('; ', sorted) mirrors add_holiday_effects:
        # same-date holidays (NO grunnlovsdag = Easter+50 in 2027, PT
        # pascoa = Apr 25 in 2038) must yield ONE merged row, not a fanout
        + ", ".join(
            f"{a} AS (SELECT d, string_agg(nm, '; ' ORDER BY nm) AS nm "
            f"FROM ({r}) GROUP BY d)"
            for a, r in [
                ("us", _us_rules), ("de", _de_rules), ("gb", _gb_rules),
                ("ca", _ca_rules), ("nl", _nl_rules), ("br", _br_rules),
                ("mx", _mx_rules), ("no_", _no_rules), ("pt", _pt_rules),
                ("jp", _jp_rules), ("gr", _gr_rules), ("za", _za_rules),
                ("sa", _sa_rules), ("id_", _id_rules), ("eg", _eg_rules),
                ("cn", _cn_rules), ("kr", _kr_rules), ("vn", _vn_rules),
                ("tw", _tw_rules), ("hk", _hk_rules), ("il", _il_rules),
                ("ph", _ph_rules), ("th", _th_rules), ("my", _my_rules),
                ("sg", _sg_rules),
                ("fr", _fr_rules), ("es", _es_rules), ("it_", _it_rules),
                ("at_", _at_rules), ("ie", _ie_rules), ("be", _be_rules),
                ("au", _au_rules), ("nz", _nz_rules), ("ru", _ru_rules),
                ("ro", _ro_rules), ("bg", _bg_rules), ("hr", _hr_rules),
                ("co", _co_rules), ("pe", _pe_rules), ("tr", _tr_rules),
                ("dk", _dk_rules), ("se", _se_rules), ("fi", _fi_rules),
                ("ch", _ch_rules), ("pl", _pl_rules), ("hu", _hu_rules),
                ("sk", _sk_rules), ("cz", _cz_rules), ("in_", _in_rules),
            ]
        )
        + " "
        "SELECT f.user_id, f.ts, us.nm AS holiday__us, de.nm AS holiday__de, "
        "gb.nm AS holiday__gb, ca.nm AS holiday__ca, nl.nm AS holiday__nl, "
        "br.nm AS holiday__br, mx.nm AS holiday__mx, "
        "no_.nm AS holiday__no, pt.nm AS holiday__pt, jp.nm AS holiday__jp, "
        "gr.nm AS holiday__gr, za.nm AS holiday__za, sa.nm AS holiday__sa, "
        "id_.nm AS holiday__id, eg.nm AS holiday__eg, cn.nm AS holiday__cn, "
        "kr.nm AS holiday__kr, vn.nm AS holiday__vn, tw.nm AS holiday__tw, "
        "hk.nm AS holiday__hk, il.nm AS holiday__il, ph.nm AS holiday__ph, "
        "th.nm AS holiday__th, my.nm AS holiday__my, "
        "sg.nm AS holiday__sg, "
        "fr.nm AS holiday__fr, es.nm AS holiday__es, it_.nm AS holiday__it, "
        "at_.nm AS holiday__at, ie.nm AS holiday__ie, be.nm AS holiday__be, "
        "au.nm AS holiday__au, nz.nm AS holiday__nz, ru.nm AS holiday__ru, "
        "ro.nm AS holiday__ro, bg.nm AS holiday__bg, hr.nm AS holiday__hr, "
        "co.nm AS holiday__co, pe.nm AS holiday__pe, tr.nm AS holiday__tr, "
        "dk.nm AS holiday__dk, se.nm AS holiday__se, fi.nm AS holiday__fi, "
        "ch.nm AS holiday__ch, pl.nm AS holiday__pl, hu.nm AS holiday__hu, "
        "sk.nm AS holiday__sk, cz.nm AS holiday__cz, in_.nm AS holiday__in "
        "FROM fut f LEFT JOIN us ON CAST(f.ts AS DATE) = us.d "
        "LEFT JOIN de ON CAST(f.ts AS DATE) = de.d "
        "LEFT JOIN gb ON CAST(f.ts AS DATE) = gb.d "
        "LEFT JOIN ca ON CAST(f.ts AS DATE) = ca.d "
        "LEFT JOIN nl ON CAST(f.ts AS DATE) = nl.d "
        "LEFT JOIN br ON CAST(f.ts AS DATE) = br.d "
        "LEFT JOIN mx ON CAST(f.ts AS DATE) = mx.d "
        "LEFT JOIN no_ ON CAST(f.ts AS DATE) = no_.d "
        "LEFT JOIN pt ON CAST(f.ts AS DATE) = pt.d "
        "LEFT JOIN jp ON CAST(f.ts AS DATE) = jp.d "
        "LEFT JOIN gr ON CAST(f.ts AS DATE) = gr.d "
        "LEFT JOIN za ON CAST(f.ts AS DATE) = za.d "
        "LEFT JOIN sa ON CAST(f.ts AS DATE) = sa.d "
        "LEFT JOIN id_ ON CAST(f.ts AS DATE) = id_.d "
        "LEFT JOIN eg ON CAST(f.ts AS DATE) = eg.d "
        "LEFT JOIN cn ON CAST(f.ts AS DATE) = cn.d "
        "LEFT JOIN kr ON CAST(f.ts AS DATE) = kr.d "
        "LEFT JOIN vn ON CAST(f.ts AS DATE) = vn.d "
        "LEFT JOIN tw ON CAST(f.ts AS DATE) = tw.d "
        "LEFT JOIN hk ON CAST(f.ts AS DATE) = hk.d "
        "LEFT JOIN il ON CAST(f.ts AS DATE) = il.d "
        "LEFT JOIN ph ON CAST(f.ts AS DATE) = ph.d "
        "LEFT JOIN th ON CAST(f.ts AS DATE) = th.d "
        "LEFT JOIN my ON CAST(f.ts AS DATE) = my.d "
        "LEFT JOIN sg ON CAST(f.ts AS DATE) = sg.d "
        "LEFT JOIN fr ON CAST(f.ts AS DATE) = fr.d "
        "LEFT JOIN es ON CAST(f.ts AS DATE) = es.d "
        "LEFT JOIN it_ ON CAST(f.ts AS DATE) = it_.d "
        "LEFT JOIN at_ ON CAST(f.ts AS DATE) = at_.d "
        "LEFT JOIN ie ON CAST(f.ts AS DATE) = ie.d "
        "LEFT JOIN be ON CAST(f.ts AS DATE) = be.d "
        "LEFT JOIN au ON CAST(f.ts AS DATE) = au.d "
        "LEFT JOIN nz ON CAST(f.ts AS DATE) = nz.d "
        "LEFT JOIN ru ON CAST(f.ts AS DATE) = ru.d "
        "LEFT JOIN ro ON CAST(f.ts AS DATE) = ro.d "
        "LEFT JOIN bg ON CAST(f.ts AS DATE) = bg.d "
        "LEFT JOIN hr ON CAST(f.ts AS DATE) = hr.d "
        "LEFT JOIN co ON CAST(f.ts AS DATE) = co.d "
        "LEFT JOIN pe ON CAST(f.ts AS DATE) = pe.d "
        "LEFT JOIN tr ON CAST(f.ts AS DATE) = tr.d "
        "LEFT JOIN dk ON CAST(f.ts AS DATE) = dk.d "
        "LEFT JOIN se ON CAST(f.ts AS DATE) = se.d "
        "LEFT JOIN fi ON CAST(f.ts AS DATE) = fi.d "
        "LEFT JOIN ch ON CAST(f.ts AS DATE) = ch.d "
        "LEFT JOIN pl ON CAST(f.ts AS DATE) = pl.d "
        "LEFT JOIN hu ON CAST(f.ts AS DATE) = hu.d "
        "LEFT JOIN sk ON CAST(f.ts AS DATE) = sk.d "
        "LEFT JOIN cz ON CAST(f.ts AS DATE) = cz.d "
        "LEFT JOIN in_ ON CAST(f.ts AS DATE) = in_.d "
        "ORDER BY user_id, ts"
    )

    o["preproc_roll"] = (
        "SELECT user_id, ts, "
        + ", ".join(
            _r(f"{fn}(value) OVER f") + f" AS value__rolling_{name}_4"
            for name, fn in [
                ("mean", "AVG"),
                ("max", "MAX"),
                ("sum", "SUM"),
                ("std", "stddev_samp"),
            ]
        )
        + " FROM events WINDOW f AS (PARTITION BY user_id ORDER BY ts "
        "ROWS BETWEEN 7 PRECEDING AND 4 PRECEDING) ORDER BY user_id, ts"
    )

    # Time-based roll: RANGE frame on epoch micros, trailing 4h window
    # shifted 4h back -> [t - 7h, t - 4h] inclusive.
    o["preproc_roll_freq"] = (
        "SELECT user_id, ts, "
        + ", ".join(
            _r(f"{fn}(value) OVER f") + f" AS value__rolling_{name}_4"
            for name, fn in [
                ("mean", "AVG"),
                ("max", "MAX"),
                ("sum", "SUM"),
                ("std", "stddev_samp"),
            ]
        )
        + " FROM events WINDOW f AS (PARTITION BY user_id ORDER BY epoch_us(ts) "
        "RANGE BETWEEN 25200000000 PRECEDING AND 14400000000 PRECEDING) "
        "ORDER BY user_id, ts"
    )

    o["preproc_impute_mean"] = (
        "WITH b AS (SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS ts, "
        "SUM(value) AS value FROM events GROUP BY 1, 2), "
        "users AS (SELECT DISTINCT user_id FROM b), days AS (SELECT DISTINCT ts FROM b), "
        "grid AS (SELECT user_id, ts FROM users CROSS JOIN days), "
        "j AS (SELECT g.user_id, g.ts, b.value FROM grid g "
        "LEFT JOIN b ON g.user_id = b.user_id AND g.ts = b.ts), "
        "m AS (SELECT user_id, AVG(value) AS mu FROM j GROUP BY user_id) "
        f"SELECT j.user_id, j.ts, {_r('COALESCE(j.value, m.mu)')} AS value "
        "FROM j JOIN m ON j.user_id = m.user_id ORDER BY 1, 2"
    )

    o["conversion_roundtrip"] = (
        f"SELECT CAST(user_id AS VARCHAR) AS user_id, ts, {_r('value')} AS value "
        "FROM events ORDER BY 1, 2"
    )

    # deseasonalize_fourier sp=7 K=1: 3-param OLS per entity solved in
    # closed form (Cramer's rule over the normal-equation aggregates).
    o["preproc_deseasonalize"] = (
        "WITH r AS (SELECT user_id, ts, value, "
        "row_number() OVER (PARTITION BY user_id ORDER BY ts) - 1 AS rk FROM events), "
        "f AS (SELECT user_id, ts, value, "
        "sin(2*pi()*((rk % 7)/7.0)) AS s, cos(2*pi()*((rk % 7)/7.0)) AS c FROM r), "
        "a AS (SELECT user_id, count(*)::DOUBLE AS n, sum(s) AS ss, sum(c) AS sc, "
        "sum(s*s) AS sss, sum(c*c) AS scc, sum(s*c) AS ssc, sum(value) AS sy, "
        "sum(value*s) AS sys, sum(value*c) AS syc FROM f GROUP BY user_id), "
        "b AS (SELECT user_id, "
        "(n*(sss*scc - ssc*ssc) - ss*(ss*scc - ssc*sc) + sc*(ss*ssc - sss*sc)) AS det, "
        "(sy*(sss*scc - ssc*ssc) - ss*(sys*scc - ssc*syc) + sc*(sys*ssc - sss*syc)) AS det0, "
        "(n*(sys*scc - ssc*syc) - sy*(ss*scc - ssc*sc) + sc*(ss*syc - sys*sc)) AS det1, "
        "(n*(sss*syc - sys*ssc) - ss*(ss*syc - sys*sc) + sy*(ss*ssc - sss*sc)) AS det2 "
        "FROM a) "
        f"SELECT f.user_id, f.ts, "
        f"{_r('f.value - (b.det0/b.det + b.det1/b.det*f.s + b.det2/b.det*f.c)')} AS value "
        "FROM f JOIN b ON f.user_id = b.user_id ORDER BY 1, 2"
    )

    from functime_spark.operators.evaluation import _norm_ppf

    ppf = repr(_norm_ppf(0.975))
    lag_sel = ", ".join(f"lag(value, {i}) OVER w AS x{i}" for i in range(1, 6))
    corr_sel = ", ".join(f"corr(x, x{i}) AS a{i}" for i in range(1, 6))
    acf_rows = [f"SELECT user_id, 0 AS lag, 1.0 AS acf, 0.0 AS itv FROM a"]
    for k in range(1, 6):
        if k == 1:
            itv = f"({ppf})*sqrt(1.0/n)"
        else:
            sq = " + ".join(f"a{i}*a{i}" for i in range(1, k))
            itv = f"({ppf})*sqrt((1 + 2*({sq}))/n)"
        acf_rows.append(f"SELECT user_id, {k}, a{k}, {itv} FROM a")
    o["eval_acf"] = (
        f"WITH l AS (SELECT user_id, value AS x, {lag_sel} FROM events {_W}), "
        f"a AS (SELECT user_id, {corr_sel}, count(x) AS n FROM l GROUP BY user_id) "
        f"SELECT user_id, lag, {_r('acf')} AS acf, {_r('acf - itv')} AS confint_lower, "
        f"{_r('acf + itv')} AS confint_upper FROM ("
        + " UNION ALL ".join(acf_rows)
        + ") ORDER BY user_id, lag"
    )

    lb_rows = []
    for k in range(1, 6):
        terms = " + ".join(f"a{i}*a{i}/(n - {i})" for i in range(1, k + 1))
        lb_rows.append(f"SELECT user_id, {k} AS lag, n*(n + 2)*({terms}) AS q FROM a")
    o["eval_ljung_box"] = (
        f"WITH l AS (SELECT user_id, value AS x, {lag_sel} FROM events {_W}), "
        f"a AS (SELECT user_id, {corr_sel}, count(x) AS n FROM l GROUP BY user_id) "
        f"SELECT user_id, lag, {_r('q')} AS qstat FROM ("
        + " UNION ALL ".join(lb_rows)
        + ") ORDER BY user_id, lag"
    )

    o["eval_rank_fva"] = (
        f"WITH p AS (SELECT user_id, value AS actual, lag(value) OVER w AS bench, "
        f"lag(value, 2) OVER w AS model FROM events {_W}), "
        "s AS (SELECT user_id, "
        "SUM(ABS(model - actual))/SUM(model + actual) AS sm, "
        "SUM(ABS(bench - actual))/SUM(bench + actual) AS sb FROM p GROUP BY user_id) "
        f"SELECT user_id, {_r('sm')} AS smape_model, {_r('sb')} AS smape_bench, "
        f"{_r('sb - sm')} AS fva FROM s ORDER BY user_id"
    )

    # forecast_linear_ar2: the AR(2) OLS fit solved exactly via
    # Cramer's rule over the pooled normal-equation aggregates, with
    # the recursive 4-step prediction unrolled as chained CTEs.
    o["forecast_linear_ar2"] = (
        "WITH t0 AS (SELECT user_id, value AS y, "
        "lag(value, 1) OVER w AS l1, lag(value, 2) OVER w AS l2, "
        f"row_number() OVER w - 1 AS i FROM events {_W}), "
        "tr AS (SELECT * FROM t0 WHERE i >= 2), "
        "a AS (SELECT sum(l1*l1) AS a11, sum(l1*l2) AS a12, sum(l1) AS a13, "
        "sum(l2*l2) AS a22, sum(l2) AS a23, CAST(count(*) AS DOUBLE) AS a33, "
        "sum(l1*y) AS b1, sum(l2*y) AS b2, sum(y) AS b3 FROM tr), "
        "s AS (SELECT "
        "(a11*(a22*a33 - a23*a23) - a12*(a12*a33 - a23*a13) + a13*(a12*a23 - a22*a13)) AS det, "
        "(b1*(a22*a33 - a23*a23) - a12*(b2*a33 - a23*b3) + a13*(b2*a23 - a22*b3)) AS d1, "
        "(a11*(b2*a33 - a23*b3) - b1*(a12*a33 - a23*a13) + a13*(a12*b3 - b2*a13)) AS d2, "
        "(a11*(a22*b3 - b2*a23) - a12*(a12*b3 - b2*a13) + b1*(a12*a23 - a22*a13)) AS d3 "
        "FROM a), "
        "w AS (SELECT d1/det AS w1, d2/det AS w2, d3/det AS b FROM s), "
        "q AS (SELECT user_id, MAX(ts) AS low, max_by(value, ts) AS yT, "
        "list(value ORDER BY ts DESC)[2] AS yT1 FROM events GROUP BY user_id), "
        "p AS (SELECT q.user_id, q.low, w.w1*q.yT + w.w2*q.yT1 + w.b AS p1 FROM q, w), "
        "p2 AS (SELECT p.user_id, p.low, p.p1, w.w1*p.p1 + w.w2*q.yT + w.b AS p2 "
        "FROM p JOIN q USING (user_id), w), "
        "p3 AS (SELECT user_id, low, p1, p2, w.w1*p2 + w.w2*p1 + w.b AS p3 FROM p2, w), "
        "p4 AS (SELECT user_id, low, p1, p2, p3, w.w1*p3 + w.w2*p2 + w.b AS p4 FROM p3, w) "
        "SELECT user_id, low + s.step * INTERVAL '1 hour' AS ts, "
        + _r("CASE s.step WHEN 1 THEN p1 WHEN 2 THEN p2 WHEN 3 THEN p3 ELSE p4 END")
        + " AS value FROM p4, (VALUES (1),(2),(3),(4)) AS s(step) ORDER BY 1, 2"
    )

    # join_asof: DuckDB's native ASOF LEFT JOIN is the oracle for the
    # union+window backward as-of join
    o["join_asof"] = (
        "WITH d AS (SELECT user_id, date_trunc('day', ts) AS t, "
        "SUM(value) AS day_sum FROM events GROUP BY ALL) "
        "SELECT e.user_id, e.ts, "
        + _r("e.value")
        + " AS value, "
        + _r("d.day_sum")
        + " AS day_sum FROM events e ASOF LEFT JOIN d "
        "ON e.user_id = d.user_id AND e.ts >= d.t "
        "ORDER BY e.user_id, e.ts"
    )

    # join_interval: the bucketed range join vs DuckDB's plain
    # inequality join over the same hot-day intervals
    o["join_interval"] = (
        "WITH daily AS (SELECT user_id, date_trunc('day', ts) AS d, "
        "SUM(value) AS s FROM events GROUP BY ALL), "
        "hot AS (SELECT user_id, d - INTERVAL 6 HOUR AS start_t, "
        "d + INTERVAL 30 HOUR AS end_t, s AS day_sum FROM ("
        "SELECT *, AVG(s) OVER (PARTITION BY user_id) AS m FROM daily) "
        "WHERE s > m) "
        "SELECT e.user_id, e.ts, "
        + _r("e.value")
        + " AS value, h.start_t AS start, "
        + _r("h.day_sum")
        + " AS day_sum FROM events e JOIN hot h ON e.user_id = h.user_id "
        "AND e.ts >= h.start_t AND e.ts <= h.end_t "
        "ORDER BY e.user_id, e.ts, h.start_t"
    )

    # text_readability: the same three regex signals + score formulas
    o["text_readability"] = (
        "WITH t AS (SELECT doc_id, "
        r"CAST(len(list_filter(string_split_regex(text, '\s+'), "
        "x -> x <> '')) AS BIGINT) AS w, "
        "CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT) "
        "AS sy, "
        "GREATEST(CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT), "
        "1) AS se FROM documents) "
        "SELECT doc_id, w AS n_words, se AS n_sentences, sy AS n_syllables, "
        + _r("206.835 - 1.015 * (w / se) - 84.6 * (sy / w)")
        + " AS flesch_reading_ease, "
        + _r("0.39 * (w / se) + 11.8 * (sy / w) - 15.59")
        + " AS fk_grade FROM t ORDER BY doc_id"
    )

    # preproc_impute_interpolate: linear interp over planted gaps —
    # prev/next non-null value AND row-number via IGNORE NULLS frames
    o["preproc_impute_interpolate"] = (
        "WITH g AS (SELECT user_id, ts, CASE WHEN day(ts) % 7 = 0 THEN NULL "
        "ELSE value END AS x FROM events), "
        "r AS (SELECT user_id, ts, x, row_number() OVER "
        "(PARTITION BY user_id ORDER BY ts) AS rn FROM g), "
        "w AS (SELECT user_id, ts, x, rn, "
        "last_value(x IGNORE NULLS) OVER pw AS pv, "
        "first_value(x IGNORE NULLS) OVER fw AS nv, "
        "last_value(CASE WHEN x IS NOT NULL THEN rn END IGNORE NULLS) "
        "OVER pw AS prn, "
        "first_value(CASE WHEN x IS NOT NULL THEN rn END IGNORE NULLS) "
        "OVER fw AS nrn FROM r WINDOW "
        "pw AS (PARTITION BY user_id ORDER BY ts ROWS BETWEEN UNBOUNDED "
        "PRECEDING AND CURRENT ROW), "
        "fw AS (PARTITION BY user_id ORDER BY ts ROWS BETWEEN CURRENT ROW "
        "AND UNBOUNDED FOLLOWING)) "
        "SELECT user_id, ts, "
        + _r("COALESCE(x, pv + (nv - pv) * (rn - prn) / (nrn - prn))")
        + " AS value FROM w ORDER BY user_id, ts"
    )

    # preproc_clip: per-entity winsorization bounds + clamp
    o["preproc_clip"] = (
        "WITH q AS (SELECT user_id, quantile_cont(value, 0.05) AS lo, "
        "quantile_cont(value, 0.95) AS hi FROM events GROUP BY user_id) "
        "SELECT e.user_id, e.ts, "
        + _r("LEAST(GREATEST(e.value, q.lo), q.hi)")
        + " AS value FROM events e JOIN q USING (user_id) "
        "ORDER BY e.user_id, e.ts"
    )

    # join_asof_nearest: candidate join ranked by |distance| with the
    # backward-preference tiebreak ((d.t > e.ts) sorts false first)
    o["join_asof_nearest"] = (
        "WITH d AS (SELECT user_id, date_trunc('day', ts) AS t, "
        "SUM(value) AS day_sum FROM events GROUP BY ALL), "
        "c AS (SELECT e.user_id, e.ts, e.value, d.day_sum, "
        "row_number() OVER (PARTITION BY e.user_id, e.ts ORDER BY "
        "abs(epoch_us(e.ts) - epoch_us(d.t)), d.t > e.ts, d.t) AS rn "
        "FROM events e JOIN d ON e.user_id = d.user_id) "
        "SELECT user_id, ts, "
        + _r("value")
        + " AS value, "
        + _r("day_sum")
        + " AS day_sum FROM c WHERE rn = 1 ORDER BY user_id, ts"
    )

    # forecast_linear_exog: AR(2) + sin/cos-hour exogenous design —
    # the generated 5x5 elimination with future exog recomputed from
    # each entity's cutoff
    o["forecast_linear_exog"] = (
        "WITH panel AS (SELECT user_id AS e, ts AS t, CAST(value AS DOUBLE) "
        "AS y FROM events), "
        + ", ".join(_ar_exog_sin_ctes(2, 3))
        + " SELECT e AS user_id, low + g.step * INTERVAL '1 hour' AS ts, "
        + _r("CASE g.step WHEN 1 THEN p1 WHEN 2 THEN p2 ELSE p3 END")
        + " AS value FROM p3, (VALUES (1),(2),(3)) AS g(step) ORDER BY 1, 2"
    )

    o["forecast_auto_linear"] = _auto_linear_replay(_r)
    o["forecast_auto_ses"] = _auto_ses_replay(_r)

    # forecast_linear_direct: the direct strategy (lags=3, H=4) — four
    # horizon models, each its own pooled elimination, applied to the
    # last 3 observed values.
    _d_joins = " ".join(f"JOIN dp{h} ON dp{h}.e = dp1.e" for h in range(2, 5))
    o["forecast_linear_direct"] = (
        "WITH " + ", ".join(_direct_linear_ctes(3, 4)) + " "
        "SELECT dp1.e AS user_id, dp1.low + g.step * INTERVAL '1 hour' AS ts, "
        + _r(
            "CASE g.step WHEN 1 THEN dp1.p WHEN 2 THEN dp2.p "
            "WHEN 3 THEN dp3.p ELSE dp4.p END"
        )
        + f" AS value FROM dp1 {_d_joins}, (VALUES (1),(2),(3),(4)) AS g(step) "
        "ORDER BY 1, 2"
    )

    # forecast_linear_ensemble: mean of the recursive AR(3) replay
    # (_ar_gauss_ctes, CTEs p1..p4) and the direct replay (dp1..dp4) —
    # ref predict_autoreg _ar.py:357-371.
    o["forecast_linear_ensemble"] = (
        "WITH panel AS (SELECT user_id AS e, ts AS t, CAST(value AS DOUBLE) AS y "
        "FROM events), "
        + ", ".join(_ar_gauss_ctes(3, 4))
        + ", "
        + ", ".join(_direct_linear_ctes(3, 4))
        + " "
        "SELECT p4.e AS user_id, p4.low + g.step * INTERVAL '1 hour' AS ts, "
        + _r(
            "(CASE g.step WHEN 1 THEN p4.p1 WHEN 2 THEN p4.p2 "
            "WHEN 3 THEN p4.p3 ELSE p4.p4 END + "
            "CASE g.step WHEN 1 THEN dp1.p WHEN 2 THEN dp2.p "
            "WHEN 3 THEN dp3.p ELSE dp4.p END) / 2"
        )
        + " AS value FROM p4 JOIN dp1 ON dp1.e = p4.e "
        + " ".join(f"JOIN dp{h} ON dp{h}.e = p4.e" for h in range(2, 5))
        + ", (VALUES (1),(2),(3),(4)) AS g(step) ORDER BY 1, 2"
    )

    # feat_udf_ar4: the default n_lags=4 autoregressive_coefficients
    # kernel — one 5x5 normal-equation system PER ENTITY, solved by
    # generated per-entity Gaussian elimination (Cramer's 120-term 5x5
    # determinant expansion would lose ~8 digits to cancellation).
    o["feat_udf_ar4"] = (
        "WITH "
        + ", ".join(_gauss_per_entity_ctes(4))
        + " SELECT e AS user_id, "
        + ", ".join(f"{_r(f'x{i}')} AS ar4_w{i + 1}" for i in range(4))
        + f", {_r('x4')} AS ar4_b FROM s0 ORDER BY user_id"
    )

    # feat_udf_friedrich: the friedrich_coefficients kernel — per
    # entity, quantile-bin the signal (29 interior quantile_cont edges
    # replay np.quantile linear interpolation; strict `edge < sig`
    # replays searchsorted side='left'), average (sig, delta) per
    # nonempty bin, z-score the bin means, solve the SPD 4x4 cubic
    # normal equations by the same pivotless elimination as the kernel,
    # and expand back to raw-x coefficients binomially.
    o["feat_udf_friedrich"] = _friedrich_oracle_sql()

    # forecast_ridge_ar2: identical to the OLS AR(2) replay with the
    # ridge lambda (sklearn default alpha=1.0) added to the
    # NON-INTERCEPT diagonal of X'X (LinearBackend._fit_normal zeroes
    # the intercept's penalty), value-verifying the L2 exact-solve path.
    o["forecast_ridge_ar2"] = (
        "WITH t0 AS (SELECT user_id, value AS y, "
        "lag(value, 1) OVER w AS l1, lag(value, 2) OVER w AS l2, "
        f"row_number() OVER w - 1 AS i FROM events {_W}), "
        "tr AS (SELECT * FROM t0 WHERE i >= 2), "
        "a AS (SELECT sum(l1*l1) + 1.0 AS a11, sum(l1*l2) AS a12, sum(l1) AS a13, "
        "sum(l2*l2) + 1.0 AS a22, sum(l2) AS a23, CAST(count(*) AS DOUBLE) AS a33, "
        "sum(l1*y) AS b1, sum(l2*y) AS b2, sum(y) AS b3 FROM tr), "
        "s AS (SELECT "
        "(a11*(a22*a33 - a23*a23) - a12*(a12*a33 - a23*a13) + a13*(a12*a23 - a22*a13)) AS det, "
        "(b1*(a22*a33 - a23*a23) - a12*(b2*a33 - a23*b3) + a13*(b2*a23 - a22*b3)) AS d1, "
        "(a11*(b2*a33 - a23*b3) - b1*(a12*a33 - a23*a13) + a13*(a12*b3 - b2*a13)) AS d2, "
        "(a11*(a22*b3 - b2*a23) - a12*(a12*b3 - b2*a13) + b1*(a12*a23 - a22*a13)) AS d3 "
        "FROM a), "
        "w AS (SELECT d1/det AS w1, d2/det AS w2, d3/det AS b FROM s), "
        "q AS (SELECT user_id, MAX(ts) AS low, max_by(value, ts) AS yT, "
        "list(value ORDER BY ts DESC)[2] AS yT1 FROM events GROUP BY user_id), "
        "p AS (SELECT q.user_id, q.low, w.w1*q.yT + w.w2*q.yT1 + w.b AS p1 FROM q, w), "
        "p2 AS (SELECT p.user_id, p.low, p.p1, w.w1*p.p1 + w.w2*q.yT + w.b AS p2 "
        "FROM p JOIN q USING (user_id), w), "
        "p3 AS (SELECT user_id, low, p1, p2, w.w1*p2 + w.w2*p1 + w.b AS p3 FROM p2, w), "
        "p4 AS (SELECT user_id, low, p1, p2, p3, w.w1*p3 + w.w2*p2 + w.b AS p4 FROM p3, w) "
        "SELECT user_id, low + s.step * INTERVAL '1 hour' AS ts, "
        + _r("CASE s.step WHEN 1 THEN p1 WHEN 2 THEN p2 WHEN 3 THEN p3 ELSE p4 END")
        + " AS value FROM p4, (VALUES (1),(2),(3),(4)) AS s(step) ORDER BY 1, 2"
    )

    # forecast_lasso_cd: exact L1 AR(2) — centered Gram/moment
    # aggregates, then SIXTY unrolled cyclic coordinate-descent sweeps
    # (soft threshold alpha*n; the Spark fit runs the identical
    # fixed-iteration arithmetic on the same sufficient statistics),
    # then the usual 4-step recursion. Threshold expr kept inline so
    # the scalar chain replays LinearBackend._fit_cd term for term.
    _CD_I, _CD_A = 60, 0.1
    _cd_ctes = [
        "a AS (SELECT sum(l1*l1) AS a11, sum(l1*l2) AS a12, "
        "sum(l2*l2) AS a22, sum(l1) AS s1, sum(l2) AS s2, sum(y) AS sy, "
        "sum(l1*y) AS b1, sum(l2*y) AS b2, "
        "CAST(count(*) AS DOUBLE) AS n FROM tr)",
        "c AS (SELECT a11 - ((s1/n)*(s1/n))*n AS g11, "
        "a12 - ((s1/n)*(s2/n))*n AS g12, "
        "a22 - ((s2/n)*(s2/n))*n AS g22, "
        "b1 - (s1/n)*sy AS c1, b2 - (s2/n)*sy AS c2, "
        "s1/n AS mx1, s2/n AS mx2, sy/n AS my, n FROM a)",
        "cd0 AS (SELECT *, 0.0 AS w1, 0.0 AS w2 FROM c)",
    ]
    for i in range(1, _CD_I + 1):
        _cd_ctes.append(
            f"cd{i} AS (SELECT g11, g12, g22, c1, c2, mx1, mx2, my, n, "
            "w1n AS w1, "
            f"SIGN(c2 - g12*w1n) * GREATEST(ABS(c2 - g12*w1n) - {_CD_A}*n, 0)"
            " / g22 AS w2 FROM ("
            "SELECT *, "
            f"SIGN(c1 - g12*w2) * GREATEST(ABS(c1 - g12*w2) - {_CD_A}*n, 0)"
            f" / g11 AS w1n FROM cd{i - 1}))"
        )
    o["forecast_lasso_cd"] = (
        "WITH t0 AS (SELECT user_id, value AS y, "
        "lag(value, 1) OVER w AS l1, lag(value, 2) OVER w AS l2, "
        f"row_number() OVER w - 1 AS i FROM events {_W}), "
        "tr AS (SELECT * FROM t0 WHERE i >= 2), "
        + ", ".join(_cd_ctes)
        + f", w AS (SELECT w1, w2, my - mx1*w1 - mx2*w2 AS b FROM cd{_CD_I}), "
        "q AS (SELECT user_id, MAX(ts) AS low, max_by(value, ts) AS yT, "
        "list(value ORDER BY ts DESC)[2] AS yT1 FROM events GROUP BY user_id), "
        "p AS (SELECT q.user_id, q.low, w.w1*q.yT + w.w2*q.yT1 + w.b AS p1 FROM q, w), "
        "p2 AS (SELECT p.user_id, p.low, p.p1, w.w1*p.p1 + w.w2*q.yT + w.b AS p2 "
        "FROM p JOIN q USING (user_id), w), "
        "p3 AS (SELECT user_id, low, p1, p2, w.w1*p2 + w.w2*p1 + w.b AS p3 FROM p2, w), "
        "p4 AS (SELECT user_id, low, p1, p2, p3, w.w1*p3 + w.w2*p2 + w.b AS p4 FROM p3, w) "
        "SELECT user_id, low + s.step * INTERVAL '1 hour' AS ts, "
        + _r("CASE s.step WHEN 1 THEN p1 WHEN 2 THEN p2 WHEN 3 THEN p3 ELSE p4 END")
        + " AS value FROM p4, (VALUES (1),(2),(3),(4)) AS s(step) ORDER BY 1, 2"
    )

    # forecast_linear: AR(8)+intercept. The pooled 9x9 normal-equation
    # system is symmetric positive-definite, so pivotless Gaussian
    # elimination is numerically stable and replayable as generated
    # CTE chains (np.linalg.solve's partially-pivoted LU agrees to
    # ~1e-12 at this conditioning); the 4-step recursion then unrolls
    # exactly like the AR(2) gate. Upgrades the flagship lags=8
    # forecaster from rows-only to value-verified.
    o["forecast_linear"] = (
        "WITH panel AS (SELECT user_id AS e, ts AS t, "
        "CAST(value AS DOUBLE) AS y FROM events), "
        + ", ".join(_ar_gauss_ctes(8, 4))
        + " SELECT e AS user_id, low + g.step * INTERVAL '1 hour' AS ts, "
        + _r("CASE g.step WHEN 1 THEN p1 WHEN 2 THEN p2 WHEN 3 THEN p3 ELSE p4 END")
        + " AS value FROM p4, (VALUES (1),(2),(3),(4)) AS g(step) ORDER BY 1, 2"
    )

    # m4_smape: the FULL M4-weekly accuracy gate replayed in SQL —
    # pooled AR(12)+intercept OLS on the real competition panel (359
    # series, 367k rows) via the same generated Gaussian elimination,
    # 13-step recursion unrolled, per-series sum-ratio SMAPE vs the
    # held-out horizon, averaged. End-to-end competition-data
    # forecast, value-verified.
    _M4 = "/root/reference/data"
    _m4case = " ".join(f"WHEN {k} THEN p{k}" for k in range(1, 14))
    o["m4_smape"] = (
        "WITH panel AS (SELECT replace(series, ' ', '') AS e, "
        "CAST(time AS BIGINT) AS t, CAST(weekly AS DOUBLE) AS y "
        f"FROM read_parquet('{_M4}/m4_1w_train.parquet')), "
        + ", ".join(_ar_gauss_ctes(12, 13))
        + ", tt AS (SELECT replace(series, ' ', '') AS e, "
        "CAST(time AS BIGINT) AS t, CAST(weekly AS DOUBLE) AS actual "
        f"FROM read_parquet('{_M4}/m4_1w_test.parquet')), "
        "cut AS (SELECT e, MAX(t) AS c FROM panel GROUP BY 1), "
        "tts AS (SELECT tt.e, tt.t + cut.c AS t, tt.actual "
        "FROM tt JOIN cut USING (e)), "
        f"pr AS (SELECT e, low + g.k AS t, CASE g.k {_m4case} END AS pred "
        "FROM p13, generate_series(1, 13) AS g(k)), "
        "sm AS (SELECT tts.e, "
        "SUM(ABS(pr.pred - tts.actual)) / SUM(pr.pred + tts.actual) AS s "
        "FROM tts LEFT JOIN pr ON pr.e = tts.e AND pr.t = tts.t GROUP BY 1) "
        "SELECT 'm4_1w' AS dataset, AVG(s) AS smape FROM sm"
    )

    # forecast_conformal_linear: ENBPI over the AR(2) forecaster.
    # Each expanding split refits OLS on its truncated panel (Cramer's
    # rule per split, GROUP BY s), recursion unrolls 4 steps from the
    # split's last two train values; residual = actual - pred; the
    # full-fit future forecast reuses the same machinery over all rows
    # (cutoff 0 pseudo-split, excluded from residuals).
    _cram = (
        "(a11*(a22*a33 - a23*a23) - a12*(a12*a33 - a23*a13) + a13*(a12*a23 - a22*a13)) AS det, "
        "(b1*(a22*a33 - a23*a23) - a12*(b2*a33 - a23*b3) + a13*(b2*a23 - a22*b3)) AS d1, "
        "(a11*(b2*a33 - a23*b3) - b1*(a12*a33 - a23*a13) + a13*(a12*b3 - b2*a13)) AS d2, "
        "(a11*(a22*b3 - b2*a23) - a12*(a12*b3 - b2*a13) + b1*(a12*a23 - a22*a13)) AS d3 "
    )
    o["forecast_conformal_linear"] = (
        "WITH t0 AS (SELECT user_id, ts, value AS y, "
        "lag(value, 1) OVER w AS l1, lag(value, 2) OVER w AS l2, "
        "row_number() OVER w - 1 AS i, "
        f"COUNT(*) OVER (PARTITION BY user_id) AS n FROM events {_W}), "
        "splits(s, cutoff) AS (VALUES (0, 5), (1, 4), (2, 0)), "
        "tr AS (SELECT t0.*, s.s FROM t0, splits s "
        "WHERE t0.i >= 2 AND t0.i < t0.n - s.cutoff), "
        "a AS (SELECT s, sum(l1*l1) AS a11, sum(l1*l2) AS a12, sum(l1) AS a13, "
        "sum(l2*l2) AS a22, sum(l2) AS a23, CAST(count(*) AS DOUBLE) AS a33, "
        "sum(l1*y) AS b1, sum(l2*y) AS b2, sum(y) AS b3 FROM tr GROUP BY s), "
        f"sf AS (SELECT s, {_cram} FROM a), "
        "w AS (SELECT s, d1/det AS w1, d2/det AS w2, d3/det AS b FROM sf), "
        "st AS (SELECT t0.user_id, sp.s, sp.cutoff, "
        "MAX(CASE WHEN t0.i = t0.n - sp.cutoff - 1 THEN t0.y END) AS yT, "
        "MAX(CASE WHEN t0.i = t0.n - sp.cutoff - 2 THEN t0.y END) AS yT1, "
        "MAX(CASE WHEN t0.i = t0.n - sp.cutoff - 1 THEN t0.ts END) AS low "
        "FROM t0, splits sp GROUP BY 1, 2, 3), "
        "p1 AS (SELECT st.*, w.w1*st.yT + w.w2*st.yT1 + w.b AS p1 "
        "FROM st JOIN w USING (s)), "
        "p2 AS (SELECT p1.*, w.w1*p1.p1 + w.w2*p1.yT + w.b AS p2 "
        "FROM p1 JOIN w USING (s)), "
        "p3 AS (SELECT p2.*, w.w1*p2.p2 + w.w2*p2.p1 + w.b AS p3 "
        "FROM p2 JOIN w USING (s)), "
        "p4 AS (SELECT p3.*, w.w1*p3.p3 + w.w2*p3.p2 + w.b AS p4 "
        "FROM p3 JOIN w USING (s)), "
        "bt AS (SELECT t0.user_id, t0.ts, t0.y AS actual, "
        "CASE t0.i - (t0.n - p4.cutoff) + 1 WHEN 1 THEN p4.p1 WHEN 2 THEN p4.p2 "
        "WHEN 3 THEN p4.p3 ELSE p4.p4 END AS pred "
        "FROM t0 JOIN p4 ON t0.user_id = p4.user_id AND p4.s < 2 "
        "AND t0.i >= t0.n - p4.cutoff AND t0.i < t0.n - p4.cutoff + 4), "
        "qs AS (SELECT user_id, quantile_cont(actual - pred, 0.1) AS qlo, "
        "quantile_cont(actual - pred, 0.9) AS qhi FROM bt GROUP BY user_id), "
        "pts AS (SELECT user_id, low + k * INTERVAL '1 hour' AS ts, "
        "CASE k WHEN 1 THEN p1 WHEN 2 THEN p2 WHEN 3 THEN p3 ELSE p4 END AS v "
        "FROM p4, generate_series(1, 4) AS g(k) WHERE s = 2 "
        "UNION ALL SELECT user_id, ts, pred AS v FROM bt) "
        f"SELECT p.user_id, p.ts, {_r('p.v + q.qlo')} AS value, "
        "CAST(10 AS INTEGER) AS quantile FROM pts p JOIN qs q USING (user_id) "
        "UNION ALL "
        f"SELECT p.user_id, p.ts, {_r('p.v + q.qhi')} AS value, "
        "CAST(90 AS INTEGER) AS quantile FROM pts p JOIN qs q USING (user_id) "
        "ORDER BY 1, 2, 4, 3"
    )

    # forecast_zero_inflated: the full censored fit replayed — the
    # exact-MLE logistic gate (regParam=0 on the Spark side) recomputed
    # by Newton-IRLS inside a recursive CTE (12 Newton steps, each one
    # aggregate pass over the lag design + a Cramer 3x3 solve; matches
    # L-BFGS at tol=1e-12 to ~1e-10), the above-regime OLS via Cramer,
    # and the 4-step recursion yhat = sigmoid(wc.f) * (wa.f) unrolled
    # with the blended prediction shifting into the lag buffer.
    _zi_y = "GREATEST(value - 50, 0)"
    _newton = (
        "SELECT it.k, it.w1, it.w2, it.b, tr.l1, tr.l2, "
        "CASE WHEN tr.y > 0 THEN 1.0 ELSE 0.0 END AS lab, "
        "1/(1 + exp(-(it.w1*tr.l1 + it.w2*tr.l2 + it.b))) AS pp "
        "FROM it, tr WHERE it.k < 12"
    )
    _hagg = (
        "SELECT k, w1, w2, b, "
        "SUM((pp - lab)*l1) AS g1, SUM((pp - lab)*l2) AS g2, SUM(pp - lab) AS g3, "
        "SUM(pp*(1-pp)*l1*l1) AS h11, SUM(pp*(1-pp)*l1*l2) AS h12, "
        "SUM(pp*(1-pp)*l1) AS h13, SUM(pp*(1-pp)*l2*l2) AS h22, "
        "SUM(pp*(1-pp)*l2) AS h23, SUM(pp*(1-pp)) AS h33 "
        f"FROM ({_newton}) rr GROUP BY 1, 2, 3, 4"
    )
    _cram3 = (
        "(g1*(h22*h33 - h23*h23) - h12*(g2*h33 - h23*g3) + h13*(g2*h23 - h22*g3)) AS d1, "
        "(h11*(g2*h33 - h23*g3) - g1*(h12*h33 - h23*h13) + h13*(h12*g3 - g2*h13)) AS d2, "
        "(h11*(h22*g3 - g2*h23) - h12*(h12*g3 - g2*h13) + g1*(h12*h23 - h22*h13)) AS d3, "
        "(h11*(h22*h33 - h23*h23) - h12*(h12*h33 - h23*h13) + h13*(h12*h23 - h22*h13)) AS det"
    )
    _zi_prob = "1/(1 + exp(-(c.w1*{f1} + c.w2*{f2} + c.b)))"
    _zi_pred = f"({_zi_prob}) * (a.w1*{{f1}} + a.w2*{{f2}} + a.b)"
    o["forecast_zero_inflated"] = (
        "WITH RECURSIVE "
        f"t0 AS (SELECT user_id, ts, {_zi_y} AS y, "
        f"lag({_zi_y}, 1) OVER w AS l1, lag({_zi_y}, 2) OVER w AS l2, "
        f"row_number() OVER w - 1 AS i FROM events {_W}), "
        "tr AS (SELECT * FROM t0 WHERE i >= 2), "
        "it AS (SELECT 0 AS k, CAST(0 AS DOUBLE) AS w1, "
        "CAST(0 AS DOUBLE) AS w2, CAST(0 AS DOUBLE) AS b "
        "UNION ALL SELECT k + 1, w1 - d1/det, w2 - d2/det, b - d3/det "
        f"FROM (SELECT k, w1, w2, b, {_cram3} FROM ({_hagg}) hh) ss), "
        "c AS (SELECT w1, w2, b FROM it ORDER BY k DESC LIMIT 1), "
        "aa AS (SELECT sum(l1*l1) AS a11, sum(l1*l2) AS a12, sum(l1) AS a13, "
        "sum(l2*l2) AS a22, sum(l2) AS a23, CAST(count(*) AS DOUBLE) AS a33, "
        "sum(l1*y) AS b1, sum(l2*y) AS b2, sum(y) AS b3 FROM tr WHERE y > 0), "
        "sv AS (SELECT "
        "(a11*(a22*a33 - a23*a23) - a12*(a12*a33 - a23*a13) + a13*(a12*a23 - a22*a13)) AS det, "
        "(b1*(a22*a33 - a23*a23) - a12*(b2*a33 - a23*b3) + a13*(b2*a23 - a22*b3)) AS d1, "
        "(a11*(b2*a33 - a23*b3) - b1*(a12*a33 - a23*a13) + a13*(a12*b3 - b2*a13)) AS d2, "
        "(a11*(a22*b3 - b2*a23) - a12*(a12*b3 - b2*a13) + b1*(a12*a23 - a22*a13)) AS d3 "
        "FROM aa), "
        "a AS (SELECT d1/det AS w1, d2/det AS w2, d3/det AS b FROM sv), "
        "q AS (SELECT user_id, MAX(ts) AS low, "
        f"max_by({_zi_y}, ts) AS yT, list({_zi_y} ORDER BY ts DESC)[2] AS yT1 "
        "FROM events GROUP BY user_id), "
        f"p1 AS (SELECT q.user_id, q.low, q.yT, "
        f"{_zi_pred.format(f1='q.yT', f2='q.yT1')} AS p1 FROM q, c, a), "
        f"p2 AS (SELECT p1.*, {_zi_pred.format(f1='p1.p1', f2='p1.yT')} AS p2 "
        "FROM p1, c, a), "
        f"p3 AS (SELECT p2.*, {_zi_pred.format(f1='p2.p2', f2='p2.p1')} AS p3 "
        "FROM p2, c, a), "
        f"p4 AS (SELECT p3.*, {_zi_pred.format(f1='p3.p3', f2='p3.p2')} AS p4 "
        "FROM p3, c, a) "
        "SELECT user_id, low + s.step * INTERVAL '1 hour' AS ts, "
        + _r("CASE s.step WHEN 1 THEN p1 WHEN 2 THEN p2 WHEN 3 THEN p3 ELSE p4 END")
        + " AS value FROM p4, (VALUES (1),(2),(3),(4)) AS s(step) ORDER BY 1, 2"
    )

    # forecast_censored: the TWO-regime blend (threshold=50 on the raw
    # panel) — same Newton-IRLS logistic replay with labels y > 50,
    # plus a SECOND Cramer OLS on the below-regime rows; recursion
    # yhat = sigmoid * above + (1 - sigmoid) * below. Covers the
    # below-regime branch zero_inflated (threshold=0) never executes.
    _cen_newton = _newton.replace("tr.y > 0", "tr.y > 50")
    _cen_pred = (
        f"({_zi_prob}) * (a.w1*{{f1}} + a.w2*{{f2}} + a.b) + "
        f"(1 - ({_zi_prob})) * (bb.w1*{{f1}} + bb.w2*{{f2}} + bb.b)"
    )
    _cram_cols = (
        "(a11*(a22*a33 - a23*a23) - a12*(a12*a33 - a23*a13) + a13*(a12*a23 - a22*a13)) AS det, "
        "(b1*(a22*a33 - a23*a23) - a12*(b2*a33 - a23*b3) + a13*(b2*a23 - a22*b3)) AS d1, "
        "(a11*(b2*a33 - a23*b3) - b1*(a12*a33 - a23*a13) + a13*(a12*b3 - b2*a13)) AS d2, "
        "(a11*(a22*b3 - b2*a23) - a12*(a12*b3 - b2*a13) + b1*(a12*a23 - a22*a13)) AS d3 "
    )
    _sums_cols = (
        "sum(l1*l1) AS a11, sum(l1*l2) AS a12, sum(l1) AS a13, "
        "sum(l2*l2) AS a22, sum(l2) AS a23, CAST(count(*) AS DOUBLE) AS a33, "
        "sum(l1*y) AS b1, sum(l2*y) AS b2, sum(y) AS b3"
    )
    o["forecast_censored"] = (
        "WITH RECURSIVE "
        "t0 AS (SELECT user_id, ts, CAST(value AS DOUBLE) AS y, "
        "lag(value, 1) OVER w AS l1, lag(value, 2) OVER w AS l2, "
        f"row_number() OVER w - 1 AS i FROM events {_W}), "
        "tr AS (SELECT * FROM t0 WHERE i >= 2), "
        "it AS (SELECT 0 AS k, CAST(0 AS DOUBLE) AS w1, "
        "CAST(0 AS DOUBLE) AS w2, CAST(0 AS DOUBLE) AS b "
        "UNION ALL SELECT k + 1, w1 - d1/det, w2 - d2/det, b - d3/det "
        f"FROM (SELECT k, w1, w2, b, {_cram3} FROM "
        f"({_hagg.replace(_newton, _cen_newton)}) hh) ss), "
        "c AS (SELECT w1, w2, b FROM it ORDER BY k DESC LIMIT 1), "
        f"aa AS (SELECT {_sums_cols} FROM tr WHERE y > 50), "
        f"sv AS (SELECT {_cram_cols} FROM aa), "
        "a AS (SELECT d1/det AS w1, d2/det AS w2, d3/det AS b FROM sv), "
        f"ab AS (SELECT {_sums_cols} FROM tr WHERE y <= 50), "
        f"svb AS (SELECT {_cram_cols} FROM ab), "
        "bb AS (SELECT d1/det AS w1, d2/det AS w2, d3/det AS b FROM svb), "
        "q AS (SELECT user_id, MAX(ts) AS low, "
        "max_by(value, ts) AS yT, list(value ORDER BY ts DESC)[2] AS yT1 "
        "FROM events GROUP BY user_id), "
        f"p1 AS (SELECT q.user_id, q.low, q.yT, "
        f"{_cen_pred.format(f1='q.yT', f2='q.yT1')} AS p1 FROM q, c, a, bb), "
        f"p2 AS (SELECT p1.*, {_cen_pred.format(f1='p1.p1', f2='p1.yT')} AS p2 "
        "FROM p1, c, a, bb), "
        f"p3 AS (SELECT p2.*, {_cen_pred.format(f1='p2.p2', f2='p2.p1')} AS p3 "
        "FROM p2, c, a, bb), "
        f"p4 AS (SELECT p3.*, {_cen_pred.format(f1='p3.p3', f2='p3.p2')} AS p4 "
        "FROM p3, c, a, bb) "
        "SELECT user_id, low + s.step * INTERVAL '1 hour' AS ts, "
        + _r("CASE s.step WHEN 1 THEN p1 WHEN 2 THEN p2 WHEN 3 THEN p3 ELSE p4 END")
        + " AS value FROM p4, (VALUES (1),(2),(3),(4)) AS s(step) ORDER BY 1, 2"
    )

    # preproc_boxcox_lambdas: the per-entity Box-Cox MLE replayed. The
    # Spark side seeds lambda from an 81-point grid argmax of the
    # profile log-likelihood and runs 15 Newton steps on its gradient
    # (preprocessing._boxcox_lmbd). Newton iterates to a FIXED POINT,
    # so cross-engine float noise does not accumulate (a bracketing
    # search would amplify it through branch decisions); the replay
    # below — same grid, same Newton update in a recursive CTE —
    # lands on the same root to ~1e-12.
    _bc_y = "CASE WHEN abs(l) < 1e-19 THEN ln(x) ELSE (POWER(x, l) - 1) / l END"
    o["preproc_boxcox_lambdas"] = (
        "WITH RECURSIVE "
        "grid AS (SELECT e, CAST(i AS DOUBLE) * CAST(0.05 AS DOUBLE) - 2 AS l "
        "FROM (SELECT DISTINCT user_id AS e FROM events), range(0, 81) t(i)), "
        "gs AS (SELECT grid.e, grid.l, "
        f"-((grid.l - 1) * SUM(ln(ev.value)) - COUNT(*) / 2.0 * "
        "ln(var_pop(CASE WHEN abs(grid.l) < 1e-19 THEN ln(ev.value) "
        "ELSE (POWER(ev.value, grid.l) - 1) / grid.l END))) AS nll "
        "FROM grid JOIN events ev ON ev.user_id = grid.e GROUP BY 1, 2), "
        "seed AS (SELECT e, CASE WHEN l = 0 THEN CAST(0.025 AS DOUBLE) ELSE l END AS l FROM "
        "(SELECT e, l, row_number() OVER (PARTITION BY e ORDER BY nll ASC, l ASC) "
        "AS rn FROM gs) WHERE rn = 1), "
        "it AS (SELECT e, 0 AS k, l FROM seed "
        "UNION ALL SELECT e, k + 1, "
        "GREATEST(-2, LEAST(2, l - (-slog + n / 2 * vp / v) / "
        "(n / 2 * (vpp * v - vp * vp) / (v * v)))) FROM ("
        "SELECT e, k, l, CAST(COUNT(*) AS DOUBLE) AS n, SUM(m) AS slog, "
        "AVG(y) AS my, AVG(yp) AS myp, AVG(ypp) AS mypp, "
        "AVG(y*y) - AVG(y)*AVG(y) AS v, "
        "2 * (AVG(y*yp) - AVG(y)*AVG(yp)) AS vp, "
        "2 * (AVG(yp*yp) + AVG(y*ypp) - AVG(yp)*AVG(yp) - AVG(y)*AVG(ypp)) AS vpp "
        "FROM (SELECT e, k, l, m, y, (m * xl) / l - y / l AS yp, "
        "(m * m * xl) / l - 2 * (m * xl) / (l * l) + 2 * y / (l * l) AS ypp "
        "FROM (SELECT it.e, it.k, it.l, ln(ev.value) AS m, "
        "POWER(ev.value, it.l) AS xl, (POWER(ev.value, it.l) - 1) / it.l AS y "
        "FROM it JOIN events ev ON ev.user_id = it.e WHERE it.k < 15) z1) z2 "
        "GROUP BY 1, 2, 3) s) "
        f"SELECT e AS user_id, {_r('l')} AS value__lmbd "
        "FROM it WHERE k = 15 ORDER BY user_id"
    )

    # preproc_yeojohnson_lambdas: the YJ MLE replayed like the Box-Cox
    # gate (same grid argmax + 15-step Newton recursive CTE). Both
    # sign branches are exercised (the query shifts values by -50);
    # the negative branch is the Box-Cox form in mu = 2 - lambda of
    # (1 - x), chain-ruled: y = -g, y' = +g', y'' = -g''.
    def _yj_y(l: str) -> str:
        return (
            "CASE WHEN xs >= 0 THEN "
            f"CASE WHEN abs({l}) < 1e-19 THEN ln(1 + xs) "
            f"ELSE (POWER(1 + xs, {l}) - 1) / {l} END "
            f"ELSE CASE WHEN abs({l} - 2) < 1e-19 THEN -ln(1 - xs) "
            f"ELSE -(POWER(1 - xs, 2 - {l}) - 1) / (2 - {l}) END END"
        )

    o["preproc_yeojohnson_lambdas"] = (
        "WITH RECURSIVE "
        "xs0 AS (SELECT user_id AS e, value - 50 AS xs FROM events), "
        "grid AS (SELECT e, CAST(i AS DOUBLE) * CAST(0.05 AS DOUBLE) - 2 AS l "
        "FROM (SELECT DISTINCT e FROM xs0), range(0, 81) t(i)), "
        "gs AS (SELECT grid.e, grid.l, "
        "-((grid.l - 1) * SUM(CASE WHEN xs >= 0 THEN ln(1 + xs) ELSE -ln(1 - xs) END) "
        "- COUNT(*) / 2.0 * ln(var_pop(" + _yj_y("grid.l") + "))) AS nll "
        "FROM grid JOIN xs0 ON xs0.e = grid.e GROUP BY 1, 2), "
        "seed AS (SELECT e, CASE WHEN l = 0 THEN CAST(0.025 AS DOUBLE) "
        "WHEN l = 2 THEN CAST(1.975 AS DOUBLE) ELSE l END AS l FROM "
        "(SELECT e, l, row_number() OVER (PARTITION BY e ORDER BY nll ASC, l ASC) "
        "AS rn FROM gs) WHERE rn = 1), "
        "it AS (SELECT e, 0 AS k, l FROM seed "
        "UNION ALL SELECT e, k + 1, "
        "GREATEST(-2, LEAST(1.975, l - (-slog + n / 2 * vp / v) / "
        "(n / 2 * (vpp * v - vp * vp) / (v * v)))) FROM ("
        "SELECT e, k, l, CAST(COUNT(*) AS DOUBLE) AS n, SUM(sm) AS slog, "
        "AVG(y*y) - AVG(y)*AVG(y) AS v, "
        "2 * (AVG(y*yp) - AVG(y)*AVG(yp)) AS vp, "
        "2 * (AVG(yp*yp) + AVG(y*ypp) - AVG(yp)*AVG(yp) - AVG(y)*AVG(ypp)) AS vpp "
        "FROM (SELECT e, k, l, "
        "CASE WHEN xs >= 0 THEN m ELSE -m END AS sm, "
        "CASE WHEN xs >= 0 THEN gg ELSE -gg END AS y, "
        "CASE WHEN xs >= 0 THEN (m * w) / l - gg / l "
        "ELSE (m * w) / mu - gg / mu END AS yp, "
        "CASE WHEN xs >= 0 THEN (m*m*w) / l - 2*(m*w)/(l*l) + 2*gg/(l*l) "
        "ELSE -((m*m*w) / mu - 2*(m*w)/(mu*mu) + 2*gg/(mu*mu)) END AS ypp "
        "FROM (SELECT *, CASE WHEN xs >= 0 THEN (w - 1) / l ELSE (w - 1) / mu END AS gg "
        "FROM (SELECT *, CASE WHEN xs >= 0 THEN POWER(1 + xs, l) "
        "ELSE POWER(1 - xs, mu) END AS w "
        "FROM (SELECT it.e, it.k, it.l, xs0.xs, "
        "CASE WHEN xs0.xs >= 0 THEN ln(1 + xs0.xs) ELSE ln(1 - xs0.xs) END AS m, "
        "2 - it.l AS mu "
        "FROM it JOIN xs0 ON xs0.e = it.e WHERE it.k < 15) z1) z2) z3) z4 "
        "GROUP BY 1, 2, 3) s) "
        f"SELECT e AS user_id, {_r('l')} AS value__lmbd "
        "FROM it WHERE k = 15 ORDER BY user_id"
    )

    # forecast_stumps: the exact-greedy depth-1 booster replayed — per
    # boosting round, residuals against the stumps-so-far aggregate per
    # distinct feature value, window cumsums give left/right sufficient
    # stats, and the SSE argmax (gain DESC, feat ASC, v ASC) is the
    # identical greedy pick; the 4-step recursion is unrolled with the
    # stump ensemble re-evaluated on the shifting lag buffer.
    _ST_M, _ST_LR = 4, 0.5

    def _stump_f(m: int, f1: str = "l1", f2: str = "l2") -> str:
        """Ensemble prediction expr after m stumps."""
        e = "f0.f0"
        for i in range(1, m + 1):
            e += (
                f" + CASE WHEN b{i}.feat = 1 THEN "
                f"CASE WHEN {f1} <= b{i}.v THEN b{i}.dl ELSE b{i}.dr END "
                f"ELSE CASE WHEN {f2} <= b{i}.v THEN b{i}.dl ELSE b{i}.dr END END"
            )
        return e

    _st_iter = []
    for m in range(1, _ST_M + 1):
        prior = "".join(f", b{i}" for i in range(1, m))
        _st_iter.append(
            f"r{m} AS (SELECT l1, l2, y - ({_stump_f(m - 1)}) AS r "
            f"FROM tr, f0{prior})"
        )
        for j in (1, 2):
            _st_iter.append(
                f"a{m}f{j} AS (SELECT l{j} AS v, SUM(r) AS s, COUNT(*) AS c "
                f"FROM r{m} GROUP BY 1)"
            )
            _st_iter.append(
                f"s{m}f{j} AS (SELECT {j} AS feat, v, "
                "SUM(s) OVER wv AS sl, SUM(c) OVER wv AS cl, "
                "SUM(s) OVER () AS st, SUM(c) OVER () AS ct "
                f"FROM a{m}f{j} WINDOW wv AS (ORDER BY v "
                "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))"
            )
        _st_iter.append(
            f"b{m} AS (SELECT feat, v, {_ST_LR} * sl/cl AS dl, "
            f"{_ST_LR} * (st-sl)/(ct-cl) AS dr "
            f"FROM (SELECT * FROM s{m}f1 UNION ALL SELECT * FROM s{m}f2) u "
            "WHERE ct > cl "
            "ORDER BY sl*sl/cl + (st-sl)*(st-sl)/(ct-cl) DESC, feat ASC, v ASC "
            "LIMIT 1)"
        )
    _st_all_b = "".join(f", b{i}" for i in range(1, _ST_M + 1))
    o["forecast_stumps"] = (
        "WITH t0 AS (SELECT user_id, value AS y, "
        "lag(value, 1) OVER w AS l1, lag(value, 2) OVER w AS l2, "
        f"row_number() OVER w - 1 AS i FROM events {_W}), "
        "tr AS (SELECT * FROM t0 WHERE i >= 2), "
        "f0 AS (SELECT AVG(y) AS f0 FROM tr), "
        + ", ".join(_st_iter)
        + ", q AS (SELECT user_id, MAX(ts) AS low, max_by(value, ts) AS yT, "
        "list(value ORDER BY ts DESC)[2] AS yT1 FROM events GROUP BY user_id), "
        f"p1 AS (SELECT q.user_id, q.low, q.yT, "
        f"{_stump_f(_ST_M, 'q.yT', 'q.yT1')} AS p1 FROM q, f0{_st_all_b}), "
        f"p2 AS (SELECT p1.*, {_stump_f(_ST_M, 'p1.p1', 'p1.yT')} AS p2 "
        f"FROM p1, f0{_st_all_b}), "
        f"p3 AS (SELECT p2.*, {_stump_f(_ST_M, 'p2.p2', 'p2.p1')} AS p3 "
        f"FROM p2, f0{_st_all_b}), "
        f"p4 AS (SELECT p3.*, {_stump_f(_ST_M, 'p3.p3', 'p3.p2')} AS p4 "
        f"FROM p3, f0{_st_all_b}) "
        "SELECT user_id, low + s.step * INTERVAL '1 hour' AS ts, "
        + _r("CASE s.step WHEN 1 THEN p1 WHEN 2 THEN p2 WHEN 3 THEN p3 ELSE p4 END")
        + " AS value FROM p4, (VALUES (1),(2),(3),(4)) AS s(step) ORDER BY 1, 2"
    )

    # forecast_trees_d2 (+_exog): the HISTOGRAM-BINNED depth-2 booster
    # replayed, parameterized over the feature set (r6). The oracle
    # first rebuilds the equal-width binning — exact per-feature
    # min/max, w = (hi-lo)/B, bin = least(greatest(floor((x-lo)/w),0),
    # B-1) — the identical IEEE-double expression the Spark fit
    # evaluates, so every downstream threshold is an exact integer
    # comparison. Per round, the root split is the fused SSE argmax
    # over (feature, bin) candidates (window cumsums PARTITIONED BY
    # feature over <= B rows), the rows partition on the picked root
    # and the SAME argmax runs within each side; a side with no valid
    # split degrades to a leaf at lr * the ROOT row's side mean (sl/cl
    # — the same value the Spark fit reuses, no re-average). The
    # 4-step recursion is unrolled with predict-time values binned
    # (and clamped into [0, B-1]) through the same expression; the
    # exog variant adds hour-of-timestamp as feature 3, whose
    # recursion value at step s is hour(low + s hours) — fully
    # deterministic from the panel.
    _T2_M, _T2_LR, _T2_B = 3, 0.5, 255

    def _t2_query(feats: list) -> str:
        """Full oracle SQL for a binned depth-2 boosted-tree gate.

        `feats` = [(name, train_expr, step_expr_fn or None)] in split
        order; feature 1..lags are the lag chain (step exprs come from
        the recursion columns), exog features provide a step_expr_fn
        (alias, step) -> SQL for their future value."""
        nf = len(feats)

        def _bin(x: str, k: int) -> str:
            lo, hi = f"mm.lo{k}", f"mm.hi{k}"
            return (
                f"CASE WHEN {hi} = {lo} THEN 0 ELSE "
                f"CAST(LEAST(GREATEST(FLOOR(({x} - {lo}) / "
                f"(({hi} - {lo}) / {_T2_B}.0)), 0), {_T2_B - 1}) AS INT) END"
            )

        def _pick(i: int, feat_col: str, exprs: list) -> str:
            body = " ".join(
                f"WHEN {k + 1} THEN ({e})" for k, e in enumerate(exprs)
            )
            return f"CASE t{i}.{feat_col} {body} END"

        def _tree_f(i: int, exprs: list) -> str:
            return (
                f"CASE WHEN ({_pick(i, 'rf', exprs)}) <= t{i}.rv THEN "
                f"CASE WHEN t{i}.lf IS NULL THEN t{i}.ld "
                f"WHEN ({_pick(i, 'lf', exprs)}) <= t{i}.lv THEN t{i}.ldl "
                f"ELSE t{i}.ldr END "
                f"ELSE CASE WHEN t{i}.rcf IS NULL THEN t{i}.rd "
                f"WHEN ({_pick(i, 'rcf', exprs)}) <= t{i}.rcv THEN t{i}.rdl "
                f"ELSE t{i}.rdr END END"
            )

        def _ens(m: int, exprs: list) -> str:
            e = "f0.f0"
            for i in range(1, m + 1):
                e += f" + ({_tree_f(i, exprs)})"
            return e

        names = [n for n, _, _ in feats]
        bin_names = [names[k] for k in range(nf)]  # binned cols keep names
        it = []
        for m in range(1, _T2_M + 1):
            prior = "".join(f", tree{i} t{i}" for i in range(1, m))
            # AS MATERIALIZED throughout: DuckDB inlines plain CTEs and
            # the tree{m} -> sd{m} -> r{m}d chain would otherwise
            # expand exponentially (fd exhaustion at 3 rounds)
            it.append(
                f"r{m}d AS MATERIALIZED (SELECT "
                + ", ".join(bin_names)
                + f", y - ({_ens(m - 1, bin_names)}) AS r "
                f"FROM trb, f0{prior})"
            )
            it.append(
                f"rc{m} AS MATERIALIZED ("
                + " UNION ALL ".join(
                    f"SELECT {k + 1} AS feat, {n} AS v, SUM(r) AS s, "
                    f"COUNT(*) AS c FROM r{m}d GROUP BY 2"
                    for k, n in enumerate(bin_names)
                )
                + ")"
            )
            it.append(
                f"rs{m} AS (SELECT feat, v, "
                "SUM(s) OVER wv AS sl, SUM(c) OVER wv AS cl, "
                "SUM(s) OVER wf AS st, SUM(c) OVER wf AS ct "
                f"FROM rc{m} WINDOW wv AS (PARTITION BY feat ORDER BY v "
                "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), "
                "wf AS (PARTITION BY feat))"
            )
            # the argmax row carries BOTH side means: they are the leaf
            # fallbacks when a side has no valid child split
            it.append(
                f"rb{m} AS MATERIALIZED (SELECT feat, v, "
                f"{_T2_LR} * (sl/cl) AS ld, "
                f"{_T2_LR} * ((st-sl)/(ct-cl)) AS rd FROM rs{m} WHERE ct > cl "
                "ORDER BY sl*sl/cl + (st-sl)*(st-sl)/(ct-cl) DESC, feat ASC, "
                "v ASC LIMIT 1)"
            )
            side_pick = "CASE b.feat " + " ".join(
                f"WHEN {k + 1} THEN r.{n}" for k, n in enumerate(bin_names)
            ) + " END"
            it.append(
                f"sd{m} AS MATERIALIZED (SELECT r.*, CASE WHEN "
                f"({side_pick}) <= b.v THEN 0 ELSE 1 END AS side "
                f"FROM r{m}d r, rb{m} b)"
            )
            it.append(
                f"cc{m} AS MATERIALIZED ("
                + " UNION ALL ".join(
                    f"SELECT side, {k + 1} AS feat, {n} AS v, SUM(r) AS s, "
                    f"COUNT(*) AS c FROM sd{m} GROUP BY 1, 3"
                    for k, n in enumerate(bin_names)
                )
                + ")"
            )
            it.append(
                f"cs{m} AS (SELECT side, feat, v, "
                "SUM(s) OVER wv AS sl, SUM(c) OVER wv AS cl, "
                "SUM(s) OVER wf AS st, SUM(c) OVER wf AS ct "
                f"FROM cc{m} WINDOW wv AS (PARTITION BY side, feat ORDER BY v "
                "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), "
                "wf AS (PARTITION BY side, feat))"
            )
            it.append(
                f"cb{m} AS MATERIALIZED (SELECT side, feat, v, "
                f"{_T2_LR} * (sl/cl) AS dl, "
                f"{_T2_LR} * ((st-sl)/(ct-cl)) AS dr, "
                "row_number() OVER (PARTITION BY side "
                "ORDER BY sl*sl/cl + (st-sl)*(st-sl)/(ct-cl) DESC, feat ASC, "
                f"v ASC) AS rn FROM cs{m} WHERE ct > cl)"
            )
            it.append(
                f"tree{m} AS MATERIALIZED (SELECT b.feat AS rf, b.v AS rv, "
                "L.feat AS lf, L.v AS lv, L.dl AS ldl, L.dr AS ldr, "
                "b.ld AS ld, R.feat AS rcf, R.v AS rcv, R.dl AS rdl, "
                "R.dr AS rdr, b.rd AS rd "
                f"FROM rb{m} b "
                f"LEFT JOIN (SELECT * FROM cb{m} WHERE rn = 1 AND side = 0) L "
                "ON TRUE "
                f"LEFT JOIN (SELECT * FROM cb{m} WHERE rn = 1 AND side = 1) R "
                "ON TRUE)"
            )
        allt = "".join(f", tree{i} t{i}" for i in range(1, _T2_M + 1))
        train_cols = ", ".join(f"{e} AS {n}" for n, e, _ in feats)
        mm_cols = ", ".join(
            f"MIN({n}) AS lo{k + 1}, MAX({n}) AS hi{k + 1}"
            for k, (n, _, _) in enumerate(feats)
        )
        trb_cols = ", ".join(
            _bin(f"tr.{n}", k + 1) + f" AS {n}" for k, (n, _, _) in enumerate(feats)
        )

        def pred_exprs(alias: str, lag1: str, lag2: str, step: int) -> list:
            """Per-feature RAW recursion exprs at `step`, to be binned."""
            out = []
            for k, (n, _, step_fn) in enumerate(feats):
                if step_fn is not None:
                    raw = step_fn(alias, step)
                elif n == "l1":
                    raw = lag1
                else:
                    raw = lag2
                out.append(_bin(raw, k + 1))
            return out

        p_steps = []
        chain = [("q", "q.yT", "q.yT1"), ("p1", "p1.p1", "p1.yT"),
                 ("p2", "p2.p2", "p2.p1"), ("p3", "p3.p3", "p3.p2")]
        for step, (alias, lag1, lag2) in enumerate(chain, start=1):
            sel = "q.user_id, q.low, q.yT" if alias == "q" else f"{alias}.*"
            p_steps.append(
                f"p{step} AS (SELECT {sel}, "
                f"{_ens(_T2_M, pred_exprs(alias, lag1, lag2, step))} AS p{step} "
                f"FROM {alias}, f0, mm{allt})"
            )
        return (
            "WITH t0 AS (SELECT user_id, ts, value AS y, "
            f"{train_cols}, "
            f"row_number() OVER w - 1 AS i FROM events {_W}), "
            "tr AS MATERIALIZED (SELECT * FROM t0 WHERE i >= 2), "
            f"mm AS MATERIALIZED (SELECT {mm_cols} FROM tr), "
            f"trb AS MATERIALIZED (SELECT y, {trb_cols} FROM tr, mm), "
            "f0 AS MATERIALIZED (SELECT AVG(y) AS f0 FROM trb), "
            + ", ".join(it)
            + ", q AS (SELECT user_id, MAX(ts) AS low, max_by(value, ts) AS yT, "
            "list(value ORDER BY ts DESC)[2] AS yT1 FROM events "
            "GROUP BY user_id), "
            + ", ".join(p_steps)
            + " SELECT user_id, low + s.step * INTERVAL '1 hour' AS ts, "
            + _r("CASE s.step WHEN 1 THEN p1 WHEN 2 THEN p2 WHEN 3 THEN p3 "
                 "ELSE p4 END")
            + " AS value FROM p4, (VALUES (1),(2),(3),(4)) AS s(step) "
            "ORDER BY 1, 2"
        )

    _t2_lags = [
        ("l1", "lag(value, 1) OVER w", None),
        ("l2", "lag(value, 2) OVER w", None),
    ]
    o["forecast_trees_d2"] = _t2_query(_t2_lags)
    o["forecast_trees_d2_exog"] = _t2_query(
        _t2_lags
        + [(
            "x1",
            "CAST(hour(ts) AS DOUBLE)",
            lambda alias, step: (
                f"CAST(hour({alias}.low + {step} * INTERVAL '1 hour') AS DOUBLE)"
            ),
        )]
    )

    # forecast_elite: the model-selection ensemble replayed end-to-end
    # forecast_gbt: PROPERTY oracle. The MLlib binned-tree fit is not
    # SQL-replayable; the Spark query instead emits per-entity verdicts
    # on deterministic properties (same-seed refit identity, train-
    # range envelope, corpus smape within 2x the exactly-replayable
    # stumps forecaster + 0.10 — measured ~0.34 vs a 0.76 bound). The
    # expected frame is therefore the all-true constant over entities.
    o["forecast_gbt"] = (
        "SELECT user_id, TRUE AS deterministic, TRUE AS in_envelope, "
        "TRUE AS acc_ok FROM events GROUP BY user_id ORDER BY user_id"
    )

    # forecast_auto_cfo: PROPERTY oracle (same pattern as forecast_gbt)
    # — the CFO trajectory branches on float comparisons, so the query
    # emits determinism / score-consistency / downhill-only verdicts
    # and the oracle is the constant all-true row.
    o["forecast_auto_cfo"] = (
        "SELECT TRUE AS deterministic, TRUE AS score_consistent, "
        "TRUE AS no_worse_than_init"
    )

    # over its SQL-able bank — per-split AR2 refits (Cramer, GROUP BY
    # s) + naive/snaive backtests, per-entity sum-ratio smape, rank
    # top-2 (model-name tie-break), mean blend of the full-fit future
    # forecasts. Steps 1..4 map to low + step hours as everywhere.
    _EL_PRED = (
        "CASE t0.i - (t0.n - p.cutoff) + 1 WHEN 1 THEN p.p1 "
        "WHEN 2 THEN p.p2 WHEN 3 THEN p.p3 ELSE p.p4 END"
    )
    o["forecast_elite"] = (
        "WITH t0 AS (SELECT user_id, ts, value AS y, "
        "lag(value, 1) OVER w AS l1, lag(value, 2) OVER w AS l2, "
        "row_number() OVER w - 1 AS i, "
        f"COUNT(*) OVER (PARTITION BY user_id) AS n FROM events {_W}), "
        "sp AS (SELECT * FROM (VALUES (0, 5), (1, 4)) AS v(s, cutoff)), "
        "ltr AS (SELECT t0.*, sp.s FROM t0, sp "
        "WHERE t0.i >= 2 AND t0.i < t0.n - sp.cutoff), "
        "la AS (SELECT s, sum(l1*l1) AS a11, sum(l1*l2) AS a12, sum(l1) AS a13, "
        "sum(l2*l2) AS a22, sum(l2) AS a23, CAST(count(*) AS DOUBLE) AS a33, "
        "sum(l1*y) AS b1, sum(l2*y) AS b2, sum(y) AS b3 FROM ltr GROUP BY s), "
        f"lsf AS (SELECT s, {_cram} FROM la), "
        "lw AS (SELECT s, d1/det AS w1, d2/det AS w2, d3/det AS b FROM lsf), "
        "lst AS (SELECT t0.user_id, sp.s, sp.cutoff, "
        "MAX(CASE WHEN t0.i = t0.n - sp.cutoff - 1 THEN t0.y END) AS yT, "
        "MAX(CASE WHEN t0.i = t0.n - sp.cutoff - 2 THEN t0.y END) AS yT1 "
        "FROM t0, sp GROUP BY 1, 2, 3), "
        "lp1 AS (SELECT lst.*, w.w1*lst.yT + w.w2*lst.yT1 + w.b AS p1 "
        "FROM lst JOIN lw w USING (s)), "
        "lp2 AS (SELECT lp1.*, w.w1*lp1.p1 + w.w2*lp1.yT + w.b AS p2 "
        "FROM lp1 JOIN lw w USING (s)), "
        "lp3 AS (SELECT lp2.*, w.w1*lp2.p2 + w.w2*lp2.p1 + w.b AS p3 "
        "FROM lp2 JOIN lw w USING (s)), "
        "lp4 AS (SELECT lp3.*, w.w1*lp3.p3 + w.w2*lp3.p2 + w.b AS p4 "
        "FROM lp3 JOIN lw w USING (s)), "
        f"lbt AS (SELECT t0.user_id, t0.y AS a, {_EL_PRED} AS pr, "
        "'linear' AS model FROM t0 JOIN lp4 p ON t0.user_id = p.user_id "
        "AND t0.i >= t0.n - p.cutoff AND t0.i < t0.n - p.cutoff + 4), "
        "nbt AS (SELECT t0.user_id, t0.y AS a, p.yT AS pr, 'naive' AS model "
        "FROM t0 JOIN lst p ON t0.user_id = p.user_id "
        "AND t0.i >= t0.n - p.cutoff AND t0.i < t0.n - p.cutoff + 4), "
        "sbt AS (SELECT t.user_id, t.y AS a, src.y AS pr, 'snaive' AS model "
        "FROM t0 t CROSS JOIN sp JOIN t0 src ON src.user_id = t.user_id "
        "AND src.i = (t.n - sp.cutoff) - LEAST(24, t.n - sp.cutoff) "
        "+ ((t.i - (t.n - sp.cutoff)) % LEAST(24, t.n - sp.cutoff)) "
        "WHERE t.i >= t.n - sp.cutoff AND t.i < t.n - sp.cutoff + 4), "
        "bt AS (SELECT * FROM lbt UNION ALL SELECT * FROM nbt "
        "UNION ALL SELECT * FROM sbt), "
        "sc AS (SELECT user_id, model, SUM(ABS(pr - a)) / SUM(pr + a) AS smape "
        "FROM bt GROUP BY 1, 2), "
        "sel AS (SELECT user_id, model FROM (SELECT user_id, model, "
        "row_number() OVER (PARTITION BY user_id ORDER BY smape ASC, model ASC) "
        "AS rn FROM sc WHERE smape IS NOT NULL AND NOT isnan(smape)) WHERE rn <= 2), "
        "fa AS (SELECT sum(l1*l1) AS a11, sum(l1*l2) AS a12, sum(l1) AS a13, "
        "sum(l2*l2) AS a22, sum(l2) AS a23, CAST(count(*) AS DOUBLE) AS a33, "
        "sum(l1*y) AS b1, sum(l2*y) AS b2, sum(y) AS b3 FROM t0 WHERE i >= 2), "
        "fsf AS (SELECT "
        "(a11*(a22*a33 - a23*a23) - a12*(a12*a33 - a23*a13) + a13*(a12*a23 - a22*a13)) AS det, "
        "(b1*(a22*a33 - a23*a23) - a12*(b2*a33 - a23*b3) + a13*(b2*a23 - a22*b3)) AS d1, "
        "(a11*(b2*a33 - a23*b3) - b1*(a12*a33 - a23*a13) + a13*(a12*b3 - b2*a13)) AS d2, "
        "(a11*(a22*b3 - b2*a23) - a12*(a12*b3 - b2*a13) + b1*(a12*a23 - a22*a13)) AS d3 "
        "FROM fa), "
        "fw AS (SELECT d1/det AS w1, d2/det AS w2, d3/det AS b FROM fsf), "
        "fq AS (SELECT user_id, MAX(ts) AS low, COUNT(*) AS n, "
        "list(y ORDER BY ts DESC) AS dl FROM t0 GROUP BY user_id), "
        "fp1 AS (SELECT fq.user_id, fq.dl[1] AS yT, "
        "fw.w1*fq.dl[1] + fw.w2*fq.dl[2] + fw.b AS p1 FROM fq, fw), "
        "fp2 AS (SELECT fp1.*, fw.w1*fp1.p1 + fw.w2*fp1.yT + fw.b AS p2 FROM fp1, fw), "
        "fp3 AS (SELECT fp2.*, fw.w1*fp2.p2 + fw.w2*fp2.p1 + fw.b AS p3 FROM fp2, fw), "
        "fp4 AS (SELECT fp3.*, fw.w1*fp3.p3 + fw.w2*fp3.p2 + fw.b AS p4 FROM fp3, fw), "
        "steps AS (SELECT * FROM (VALUES (1),(2),(3),(4)) AS g(step)), "
        "fut AS (SELECT user_id, g.step, "
        "CASE g.step WHEN 1 THEN p1 WHEN 2 THEN p2 WHEN 3 THEN p3 ELSE p4 END AS pred, "
        "'linear' AS model FROM fp4, steps g "
        "UNION ALL SELECT user_id, g.step, dl[1] AS pred, 'naive' AS model "
        "FROM fq, steps g "
        "UNION ALL SELECT user_id, g.step, "
        "dl[LEAST(24, n) - ((g.step - 1) % LEAST(24, n))] AS pred, "
        "'snaive' AS model FROM fq, steps g), "
        "bl AS (SELECT f.user_id, f.step, AVG(f.pred) AS v FROM fut f "
        "JOIN sel ON f.user_id = sel.user_id AND f.model = sel.model "
        "GROUP BY 1, 2) "
        "SELECT bl.user_id, fq.low + bl.step * INTERVAL '1 hour' AS ts, "
        + _r("bl.v")
        + " AS value FROM bl JOIN fq USING (user_id) ORDER BY 1, 2"
    )

    # feat_udf_adf: ADF(n_lags=1) — dy_t = rho*y_{t-1} + phi*dy_{t-1}
    # + c fit by Cramer 3x3 per entity, then the kernel's simple
    # standard error (mse over centered y_lag sum of squares, not the
    # full covariance matrix — features_udf.py:106-123) and t = rho/se.
    o["feat_udf_adf"] = (
        "WITH q AS (SELECT user_id, value AS x, "
        "lag(value, 1) OVER w AS l1, lag(value, 2) OVER w AS l2, "
        f"row_number() OVER w - 1 AS i FROM events {_W}), "
        "d AS (SELECT user_id, x - l1 AS t, l1 AS yl, l1 - l2 AS dl "
        "FROM q WHERE i >= 2), "
        "a AS (SELECT user_id, sum(yl*yl) AS a11, sum(yl*dl) AS a12, "
        "sum(yl) AS a13, sum(dl*dl) AS a22, sum(dl) AS a23, "
        "CAST(count(*) AS DOUBLE) AS a33, "
        "sum(yl*t) AS b1, sum(dl*t) AS b2, sum(t) AS b3 "
        "FROM d GROUP BY user_id), "
        "s AS (SELECT user_id, a13 / a33 AS myl, a33 AS n, "
        "(a11*(a22*a33 - a23*a23) - a12*(a12*a33 - a23*a13) + a13*(a12*a23 - a22*a13)) AS det, "
        "(b1*(a22*a33 - a23*a23) - a12*(b2*a33 - a23*b3) + a13*(b2*a23 - a22*b3)) AS d1, "
        "(a11*(b2*a33 - a23*b3) - b1*(a12*a33 - a23*a13) + a13*(a12*b3 - b2*a13)) AS d2, "
        "(a11*(a22*b3 - b2*a23) - a12*(a12*b3 - b2*a13) + b1*(a12*a23 - a22*a13)) AS d3 "
        "FROM a), "
        "w AS (SELECT user_id, myl, n, d1/det AS rho, d2/det AS phi, d3/det AS c FROM s), "
        "r AS (SELECT d.user_id, w.rho, w.n, "
        "SUM(POWER(d.t - (w.rho*d.yl + w.phi*d.dl + w.c), 2)) AS sse, "
        "SUM(POWER(d.yl - w.myl, 2)) AS sys "
        "FROM d JOIN w USING (user_id) GROUP BY 1, 2, 3) "
        f"SELECT user_id, {_r('rho / sqrt((sse / (n - 3)) / sys)')} "
        "AS augmented_dickey_fuller FROM r ORDER BY user_id"
    )

    # feat_udf_entropy_pair: approximate/sample entropy (m=2) from
    # first principles — per-entity self-joins counting window pairs
    # within Chebyshev radius r (r = 0.2*std_samp for ApEn incl. self,
    # 0.2*std_pop for SampEn excl. self, matching the kernels).
    o["feat_udf_entropy_pair"] = (
        f"WITH q AS (SELECT user_id, CAST(value AS DOUBLE) AS x, "
        "lead(value, 1) OVER w AS x1, lead(value, 2) OVER w AS x2, "
        "row_number() OVER w - 1 AS i, "
        f"COUNT(*) OVER (PARTITION BY user_id) AS n FROM events {_W}), "
        "r AS (SELECT user_id, 0.2*stddev_samp(value) AS ra, "
        "0.2*stddev_pop(value) AS rs FROM events GROUP BY user_id), "
        "m2 AS (SELECT * FROM q WHERE i <= n - 2), "
        "m3 AS (SELECT * FROM q WHERE i <= n - 3), "
        "c2 AS (SELECT a.user_id, a.i, a.n, COUNT(*) AS c FROM m2 a "
        "JOIN m2 b ON a.user_id = b.user_id JOIN r ON r.user_id = a.user_id "
        "WHERE greatest(abs(a.x - b.x), abs(a.x1 - b.x1)) <= r.ra GROUP BY 1, 2, 3), "
        "c3 AS (SELECT a.user_id, a.i, a.n, COUNT(*) AS c FROM m3 a "
        "JOIN m3 b ON a.user_id = b.user_id JOIN r ON r.user_id = a.user_id "
        "WHERE greatest(abs(a.x - b.x), abs(a.x1 - b.x1), abs(a.x2 - b.x2)) <= r.ra "
        "GROUP BY 1, 2, 3), "
        "phi AS (SELECT c2.user_id, "
        "(SELECT AVG(ln(c / CAST(n - 1 AS DOUBLE))) FROM c2 x WHERE x.user_id = c2.user_id) AS p2, "
        "(SELECT AVG(ln(c / CAST(n - 2 AS DOUBLE))) FROM c3 x WHERE x.user_id = c2.user_id) AS p3 "
        "FROM c2 GROUP BY c2.user_id), "
        "s2 AS (SELECT a.user_id, COUNT(*) AS b FROM m2 a "
        "JOIN m2 b ON a.user_id = b.user_id AND a.i <> b.i "
        "JOIN r ON r.user_id = a.user_id "
        "WHERE greatest(abs(a.x - b.x), abs(a.x1 - b.x1)) <= r.rs GROUP BY 1), "
        "s3 AS (SELECT a.user_id, COUNT(*) AS a FROM m3 a "
        "JOIN m3 b ON a.user_id = b.user_id AND a.i <> b.i "
        "JOIN r ON r.user_id = a.user_id "
        "WHERE greatest(abs(a.x - b.x), abs(a.x1 - b.x1), abs(a.x2 - b.x2)) <= r.rs "
        "GROUP BY 1) "
        f"SELECT phi.user_id, {_r('abs(phi.p2 - phi.p3)')} AS approximate_entropy, "
        # undefined (no matching pairs) -> NULL: the kernel's NaN
        # arrives as null through the Arrow batch boundary
        + _r(
            "CASE WHEN s2.b > 0 AND s3.a > 0 THEN ln(s2.b / CAST(s3.a AS DOUBLE)) "
            "ELSE NULL END"
        )
        + " AS sample_entropy FROM phi "
        "LEFT JOIN s2 ON phi.user_id = s2.user_id "
        "LEFT JOIN s3 ON phi.user_id = s3.user_id ORDER BY phi.user_id"
    )

    # feat_udf_ar2: per-entity AR(2) OLS via Cramer's rule.
    o["feat_udf_ar2"] = (
        "WITH t0 AS (SELECT user_id, CAST(value AS DOUBLE) AS y, "
        "lag(value, 1) OVER w AS l1, lag(value, 2) OVER w AS l2, "
        f"row_number() OVER w - 1 AS i FROM events {_W}), "
        "a AS (SELECT user_id, sum(l1*l1) AS a11, sum(l1*l2) AS a12, sum(l1) AS a13, "
        "sum(l2*l2) AS a22, sum(l2) AS a23, CAST(count(*) AS DOUBLE) AS a33, "
        "sum(l1*y) AS b1, sum(l2*y) AS b2, sum(y) AS b3 "
        "FROM t0 WHERE i >= 2 GROUP BY user_id), "
        "s AS (SELECT user_id, "
        "(a11*(a22*a33 - a23*a23) - a12*(a12*a33 - a23*a13) + a13*(a12*a23 - a22*a13)) AS det, "
        "(b1*(a22*a33 - a23*a23) - a12*(b2*a33 - a23*b3) + a13*(b2*a23 - a22*b3)) AS d1, "
        "(a11*(b2*a33 - a23*b3) - b1*(a12*a33 - a23*a13) + a13*(a12*b3 - b2*a13)) AS d2, "
        "(a11*(a22*b3 - b2*a23) - a12*(a12*b3 - b2*a13) + b1*(a12*a23 - a22*a13)) AS d3 "
        "FROM a) "
        f"SELECT user_id, {_r('d1/det')} AS ar_w1, {_r('d2/det')} AS ar_w2, "
        f"{_r('d3/det')} AS ar_b FROM s ORDER BY user_id"
    )

    # feat_udf_fft: first 3 rFFT bins as explicit DFT sums
    # Re_k = sum x_t cos(2*pi*k*t/N), Im_k = -sum x_t sin(2*pi*k*t/N)
    # (numpy forward-transform sign convention); the kernel's angle is
    # arctan2(real, imag) in degrees.
    _fft_aggs = ", ".join(
        f"SUM(x * cos(2*pi()*{k}*i/n)) AS re{k}, "
        f"-SUM(x * sin(2*pi()*{k}*i/n)) AS im{k}"
        for k in range(3)
    )
    _fft_out = ", ".join(
        _r(f"re{k}") + f" AS fft_re_{k}, " + _r(f"im{k}") + f" AS fft_im_{k}, "
        + _r(f"degrees(atan2(re{k}, im{k}))") + f" AS fft_ang_{k}"
        for k in range(3)
    )
    o["feat_udf_fft"] = (
        "WITH q AS (SELECT user_id, CAST(value AS DOUBLE) AS x, "
        "CAST(row_number() OVER w - 1 AS DOUBLE) AS i, "
        f"CAST(COUNT(*) OVER (PARTITION BY user_id) AS DOUBLE) AS n FROM events {_W}), "
        f"a AS (SELECT user_id, {_fft_aggs} FROM q GROUP BY user_id) "
        f"SELECT user_id, {_fft_out} FROM a ORDER BY user_id"
    )

    # feat_udf_welch: gate-scale series are all shorter than
    # nperseg=256, so Welch collapses to ONE hann-windowed
    # mean-detrended periodogram. Full one-sided PSD per entity via
    # explicit DFT sums (one-sided doubling: k=0 and the Nyquist bin
    # of even-length series stay unscaled), then spkt = PSD[5] and
    # fourier_entropy = binned entropy of PSD/max(PSD).
    o["feat_udf_welch"] = (
        "WITH q AS (SELECT user_id, CAST(value AS DOUBLE) AS x, "
        "CAST(row_number() OVER w - 1 AS DOUBLE) AS j, "
        "CAST(COUNT(*) OVER (PARTITION BY user_id) AS DOUBLE) AS n, "
        f"AVG(value) OVER (PARTITION BY user_id) AS mu FROM events {_W}), "
        "seg AS (SELECT user_id, j, n, "
        "(x - mu) * (0.5 - 0.5*cos(2*pi()*j/n)) AS s, "
        "POWER(0.5 - 0.5*cos(2*pi()*j/n), 2) AS w2 FROM q), "
        "ent AS (SELECT user_id, CAST(MAX(n) AS BIGINT) AS n, "
        "1.0/SUM(w2) AS sc FROM seg GROUP BY 1), "
        "freqs AS (SELECT user_id, n, sc, "
        "unnest(range(0, n//2 + 1)) AS k FROM ent), "
        "spec AS (SELECT f.user_id, f.k, f.n, f.sc, "
        "SUM(seg.s * cos(2*pi()*f.k*seg.j/f.n)) AS re, "
        "SUM(seg.s * sin(2*pi()*f.k*seg.j/f.n)) AS im "
        "FROM freqs f JOIN seg ON seg.user_id = f.user_id "
        "GROUP BY 1, 2, 3, 4), "
        "psd AS (SELECT user_id, k, (re*re + im*im) * sc * "
        "(CASE WHEN k = 0 OR (n % 2 = 0 AND k = n//2) THEN 1.0 ELSE 2.0 END) AS p "
        "FROM spec), "
        "nrm AS (SELECT user_id, k, "
        "p / MAX(p) OVER (PARTITION BY user_id) AS px FROM psd), "
        "st AS (SELECT user_id, MIN(px) AS mn, MAX(px) AS mx, "
        "CAST(COUNT(*) AS DOUBLE) AS nf FROM nrm GROUP BY 1), "
        "bins AS (SELECT n.user_id, "
        "FLOOR((n.px - st.mn) / (1e-12 + (st.mx - st.mn)/10.0)) AS b "
        "FROM nrm n JOIN st USING (user_id)), "
        "cnt AS (SELECT user_id, b, CAST(COUNT(*) AS DOUBLE) AS c "
        "FROM bins GROUP BY 1, 2), "
        "fe AS (SELECT cnt.user_id, "
        "-SUM((c/st.nf) * ln(c/st.nf)) AS v "
        "FROM cnt JOIN st USING (user_id) GROUP BY 1) "
        "SELECT p5.user_id, " + _r("p5.p") + " AS spkt_welch_density, "
        + _r("fe.v") + " AS fourier_entropy "
        "FROM (SELECT user_id, p FROM psd WHERE k = 5) p5 "
        "JOIN fe USING (user_id) ORDER BY user_id"
    )

    # feat_udf_cwt: ricker CWT, mode='same' convolution replayed as a
    # closed-form double sum. For each width a: kernel length
    # m = least(10a, n), same-alignment offset (m-1)//2, wavelet
    # A*(1 - v^2/a^2)*exp(-v^2/(2a^2)) with v = idx - (m-1)/2,
    # A = 2/(sqrt(3a)*pi^(1/4)).
    _cwt_ctes = [
        "ent AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n FROM events GROUP BY 1)",
        "q AS (SELECT user_id, CAST(value AS DOUBLE) AS x, "
        f"row_number() OVER w - 1 AS i FROM events {_W})",
        "js AS (SELECT user_id, n, unnest(range(0, 14)) AS j FROM ent)",
    ]
    _cwt_sel = ["js.user_id"]
    for w in (2, 5, 10, 20):
        m = f"LEAST({10 * w}, js.n)"
        idx = f"(js.j - q.i + ({m} - 1)//2)"
        v = f"({idx} - ({m} - 1)/2.0)"
        amp = f"(2.0/(sqrt(3.0*{w})*POWER(pi(), 0.25)))"
        _cwt_ctes.append(
            f"c{w} AS (SELECT js.user_id, js.j, "
            f"SUM(q.x * {amp} * (1 - {v}*{v}/{w * w}.0) * "
            f"EXP(-{v}*{v}/(2.0*{w * w}))) AS v "
            "FROM js JOIN q USING (user_id) "
            f"WHERE {idx} BETWEEN 0 AND {m} - 1 GROUP BY 1, 2)"
        )
    for w in (2, 5, 10, 20):
        for j in range(14):
            _cwt_sel.append(
                _r(f"MAX(CASE WHEN js.j = {j} THEN c{w}.v END)")
                + f" AS cwt_{w}_{j}"
            )
    o["feat_udf_cwt"] = (
        "WITH " + ", ".join(_cwt_ctes) + " SELECT " + ", ".join(_cwt_sel)
        + " FROM js "
        + " ".join(
            f"JOIN c{w} ON c{w}.user_id = js.user_id AND c{w}.j = js.j"
            for w in (2, 5, 10, 20)
        )
        + " GROUP BY js.user_id ORDER BY js.user_id"
    )

    # feat_udf_cwt_peaks: number_cwt_peaks at max_width=4, the config
    # where the kernel's output is PROVABLY independent of the ridge
    # tracking loop: with <=4 scales the length filter max(n/4,1)=1
    # admits every ridge, and each row-0 strict local maximum lands as
    # col0 of exactly one ridge (claimed by an existing ridge or
    # seeding a new one), so the count reduces to |{row-0 maxima c :
    # noise<=0 OR conv[c]/noise >= 1}| with noise the linear-interp
    # 10th percentile of |conv| (verified 0/300 mismatches vs the full
    # tracking kernel on random series). The width-1 ricker conv is the
    # same closed-form double sum as the feat_udf_cwt oracle; tracking
    # at default max_width=5 stays covered by feat_udf_scalar (rows)
    # and pytest. quantile_cont == np.percentile (both linear-interp).
    _pk_m = "LEAST(10, js.n)"
    _pk_idx = f"(js.j - q.i + ({_pk_m} - 1)//2)"
    _pk_v = f"({_pk_idx} - ({_pk_m} - 1)/2.0)"
    _pk_amp = "(2.0/(sqrt(3.0)*POWER(pi(), 0.25)))"
    o["feat_udf_cwt_peaks"] = (
        "WITH ent AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n "
        "FROM events GROUP BY 1), "
        "q AS (SELECT user_id, CAST(value AS DOUBLE) AS x, "
        f"row_number() OVER w - 1 AS i FROM events {_W}), "
        "js AS (SELECT user_id, n, unnest(range(0, n)) AS j FROM ent), "
        f"c AS (SELECT js.user_id, js.j, SUM(q.x * {_pk_amp} * "
        f"(1 - {_pk_v}*{_pk_v}) * EXP(-{_pk_v}*{_pk_v}/2.0)) AS v "
        "FROM js JOIN q USING (user_id) "
        f"WHERE {_pk_idx} BETWEEN 0 AND {_pk_m} - 1 GROUP BY 1, 2), "
        "mx AS (SELECT user_id, j, v, lag(v) OVER wj AS lv, "
        "lead(v) OVER wj AS nv FROM c "
        "WINDOW wj AS (PARTITION BY user_id ORDER BY j)), "
        "ns AS (SELECT user_id, quantile_cont(abs(v), 0.1) AS noise "
        "FROM c GROUP BY 1) "
        "SELECT m.user_id, "
        + _r(
            "COUNT(*) FILTER (WHERE (m.lv IS NULL OR m.v > m.lv) "
            "AND (m.nv IS NULL OR m.v > m.nv) "
            "AND (n.noise <= 0 OR m.v / n.noise >= 1.0))"
        )
        + " AS number_cwt_peaks FROM mx m JOIN ns n USING (user_id) "
        "GROUP BY 1 ORDER BY 1"
    )

    # forecast_knn (recursive): each step rescans the SAME l1..l8
    # reference columns with a query vector that shifts the previous
    # prediction in — four chained top-k CTEs.
    _RL, _RK, _RFH = 8, 5, 4
    _rdist = " + ".join(f"pow(q.q{j} - t.l{j}, 2)" for j in range(1, _RL + 1))
    _rlag = ", ".join(f"lag(value, {j}) OVER w AS l{j}" for j in range(1, _RL + 1))
    _rctes = [
        "q0 AS (SELECT user_id, MAX(ts) AS low, "
        + ", ".join(
            f"list(CAST(value AS DOUBLE) ORDER BY ts DESC)[{j}] AS q{j}"
            for j in range(1, _RL + 1)
        )
        + " FROM events GROUP BY user_id)",
        f"train0 AS (SELECT CAST(value AS DOUBLE) AS y, {_rlag}, "
        f"row_number() OVER w - 1 AS i FROM events {_W})",
        f"train AS (SELECT * FROM train0 WHERE i >= {_RL})",
    ]
    for h in range(1, _RFH + 1):
        _rctes.append(
            f"s{h} AS (SELECT user_id, avg(y) AS p{h} FROM ("
            f"SELECT q.user_id, t.y, row_number() OVER "
            f"(PARTITION BY q.user_id ORDER BY {_rdist}) AS rk "
            f"FROM q{h - 1} q, train t) WHERE rk <= {_RK} GROUP BY user_id)"
        )
        if h < _RFH:
            _rshift = ", ".join(f"q.q{j} AS q{j + 1}" for j in range(1, _RL))
            _rctes.append(
                f"q{h} AS (SELECT q.user_id, q.low, s.p{h} AS q1, {_rshift} "
                f"FROM q{h - 1} q JOIN s{h} s USING (user_id))"
            )
    _rsteps = " UNION ALL ".join(
        f"SELECT user_id, {h} AS step, p{h} AS v FROM s{h}"
        for h in range(1, _RFH + 1)
    )
    # forecast_knn_exog: the same chained top-k recursion with an
    # EXOGENOUS 9th dimension (hour-of-day) in both the reference rows
    # (xh = hour(target time)) and each step's query vector
    # (hour(low + step hours)) — externally verifying that X extends
    # the kNN design and every per-step query.
    _xctes = [
        "q0 AS (SELECT user_id, MAX(ts) AS low, "
        + ", ".join(
            f"list(CAST(value AS DOUBLE) ORDER BY ts DESC)[{j}] AS q{j}"
            for j in range(1, _RL + 1)
        )
        + " FROM events GROUP BY user_id)",
        f"train0 AS (SELECT CAST(value AS DOUBLE) AS y, {_rlag}, "
        "CAST(hour(ts) AS DOUBLE) AS xh, "
        f"row_number() OVER w - 1 AS i FROM events {_W})",
        f"train AS (SELECT * FROM train0 WHERE i >= {_RL})",
    ]
    for h in range(1, _RFH + 1):
        _xq = f"CAST(hour(q.low + {h} * INTERVAL '1 hour') AS DOUBLE)"
        _xdist = _rdist + f" + pow({_xq} - t.xh, 2)"
        _xctes.append(
            f"s{h} AS (SELECT user_id, avg(y) AS p{h} FROM ("
            f"SELECT q.user_id, t.y, row_number() OVER "
            f"(PARTITION BY q.user_id ORDER BY {_xdist}) AS rk "
            f"FROM q{h - 1} q, train t) WHERE rk <= {_RK} GROUP BY user_id)"
        )
        if h < _RFH:
            _xshift = ", ".join(f"q.q{j} AS q{j + 1}" for j in range(1, _RL))
            _xctes.append(
                f"q{h} AS (SELECT q.user_id, q.low, s.p{h} AS q1, {_xshift} "
                f"FROM q{h - 1} q JOIN s{h} s USING (user_id))"
            )
    _xsteps = " UNION ALL ".join(
        f"SELECT user_id, {h} AS step, p{h} AS v FROM s{h}"
        for h in range(1, _RFH + 1)
    )
    o["forecast_knn_exog"] = (
        "WITH " + ", ".join(_xctes)
        + f", allp AS ({_xsteps}) "
        "SELECT a.user_id, q0.low + a.step * INTERVAL '1 hour' AS ts, "
        + _r("a.v")
        + " AS value FROM allp a JOIN q0 ON a.user_id = q0.user_id ORDER BY 1, 2"
    )

    o["forecast_knn"] = (
        "WITH " + ", ".join(_rctes)
        + f", allp AS ({_rsteps}) "
        "SELECT a.user_id, q0.low + a.step * INTERVAL '1 hour' AS ts, "
        + _r("a.v")
        + " AS value FROM allp a JOIN q0 ON a.user_id = q0.user_id ORDER BY 1, 2"
    )

    # forecast_knn_direct: kNN is deterministic (no sampling at gate
    # scale), so the full direct-strategy forecast is SQL: horizon h
    # scans lag columns h..h+lags-1 of the global design, rank by L2.
    _KL, _KMH, _KK = 8, 4, 5
    _klag = ", ".join(
        f"lag(value, {j}) OVER w AS l{j}" for j in range(1, _KL + _KMH)
    )

    def _kdist(h: int) -> str:
        lo = min(h - 1, _KMH - 1)
        return " + ".join(
            f"pow(q.vs[{j + 1}] - t.l{lo + j + 1}, 2)" for j in range(_KL)
        )

    _kunions = " UNION ALL ".join(
        f"SELECT q.user_id, {h} AS step, t.y, {_kdist(h)} AS dist FROM q, train t"
        for h in range(1, _KMH + 1)
    )
    o["forecast_knn_direct"] = (
        "WITH q AS (SELECT user_id, list(value ORDER BY ts DESC) AS vs, "
        "MAX(ts) AS low FROM events GROUP BY user_id), "
        f"train0 AS (SELECT value AS y, {_klag}, row_number() OVER w - 1 AS i "
        f"FROM events {_W}), "
        f"train AS (SELECT * FROM train0 WHERE i >= {_KL + _KMH - 1}), "
        f"d AS ({_kunions}), "
        "r AS (SELECT user_id, step, y, row_number() OVER "
        "(PARTITION BY user_id, step ORDER BY dist) AS rk FROM d), "
        f"pred AS (SELECT user_id, step, AVG(y) AS v FROM r WHERE rk <= {_KK} "
        "GROUP BY 1, 2) "
        "SELECT p.user_id, q.low + p.step * INTERVAL '1 hour' AS ts, "
        f"{_r('p.v')} AS value "
        "FROM pred p JOIN q ON p.user_id = q.user_id ORDER BY 1, 2"
    )

    o["text_token_counts"] = (
        r"SELECT doc_id, "
        r"CAST(len(regexp_split_to_array(text, '\s+')) AS BIGINT) AS n_whitespace_tokens, "
        r"CAST(len(regexp_extract_all(text, '\w+')) "
        r"+ (length(text) - length(regexp_replace(text, '[^\w\s]', '', 'g'))) AS BIGINT) "
        "AS n_punct_split_tokens, "
        r"CAST(coalesce(list_sum(list_transform(regexp_split_to_array(text, '\s+'), "
        r"w -> CAST(ceil(length(w)/4.0) AS BIGINT))), 0) AS BIGINT) AS n_subword_est "
        "FROM documents ORDER BY doc_id"
    )

    # D'Agostino-Pearson K^2: the scipy.stats.normaltest closed form
    # (skew z + kurtosis z) over per-entity central moments — pure
    # elementary math, staged through CTEs.
    o["eval_normality"] = (
        "WITH p AS (SELECT user_id AS e, value AS x FROM events), "
        "m AS (SELECT e, CAST(count(*) AS DOUBLE) AS n, avg(x) AS mu FROM p GROUP BY e), "
        "mo AS (SELECT p.e, any_value(m.n) AS n, "
        "avg(pow(p.x-m.mu,2)) AS m2, avg(pow(p.x-m.mu,3)) AS m3, avg(pow(p.x-m.mu,4)) AS m4 "
        "FROM p JOIN m ON p.e=m.e GROUP BY p.e), "
        "s1 AS (SELECT e, n, m2, m3, m4, "
        "(m3/pow(m2,1.5)) * sqrt(((n+1)*(n+3))/(6.0*(n-2))) AS y0, "
        "3.0*(n*n+27*n-70)*(n+1)*(n+3)/((n-2)*(n+5)*(n+7)*(n+9)) AS beta2, "
        "m4/(m2*m2) AS b2, 3.0*(n-1)/(n+1) AS e_b2, "
        "24.0*n*(n-2)*(n-3)/(pow(n+1,2)*(n+3)*(n+5)) AS var_b2, "
        "6.0*(n*n-5*n+2)/((n+7)*(n+9)) * sqrt((6.0*(n+3)*(n+5))/(n*(n-2)*(n-3))) AS sqrtbeta1 "
        "FROM mo), "
        "s2 AS (SELECT e, n, CASE WHEN y0 = 0 THEN 1.0 ELSE y0 END AS y, "
        "-1 + sqrt(2*(beta2-1)) AS w2, b2, e_b2, var_b2, "
        "6.0 + 8.0/sqrtbeta1*(2.0/sqrtbeta1 + sqrt(1+4.0/(sqrtbeta1*sqrtbeta1))) AS a "
        "FROM s1), "
        "s3 AS (SELECT e, n, a, "
        "(1.0/sqrt(0.5*ln(w2))) * ln(y/sqrt(2.0/(w2-1)) + sqrt(pow(y/sqrt(2.0/(w2-1)),2)+1)) AS z_s, "
        "(b2-e_b2)/sqrt(var_b2) AS xx FROM s2), "
        "s4 AS (SELECT e, n, z_s, "
        "((1-2/(9.0*a)) - sign(1 + xx*sqrt(2/(a-4.0))) "
        "* pow(abs((1-2.0/a)/(1 + xx*sqrt(2/(a-4.0)))), 1.0/3.0)) "
        "/ sqrt(2/(9.0*a)) AS z_k FROM s3) "
        "SELECT e AS user_id, CASE WHEN n < 8 THEN CAST('nan' AS DOUBLE) "
        f"ELSE {_r('z_s*z_s + z_k*z_k')} END AS normal_test "
        "FROM s4 ORDER BY user_id"
    )

    # stream_sliding_stats: F.window(2d, 1d) assigns each row to its
    # two epoch-aligned day buckets — replicated by exploding rows
    # against (VALUES (0),(1)) day shifts.
    o["stream_sliding_stats"] = (
        "WITH e AS (SELECT user_id, ts, CAST(value AS DOUBLE) AS value, "
        "date_trunc('day', ts) - (g.k * INTERVAL '1 day') AS wstart "
        "FROM events, (VALUES (0),(1)) AS g(k)) "
        "SELECT user_id, CAST(wstart AS TIMESTAMP) AS window_start, "
        "CAST(wstart + INTERVAL '2 days' AS TIMESTAMP) AS window_end, "
        f"{_r('min(value)')} AS min, {_r('max(value)')} AS max, "
        f"count(value) AS n, {_r('avg(value)')} AS mean, "
        f"{_r('sum(value)')} AS sum, {_r('stddev_samp(value)')} AS std "
        "FROM e GROUP BY 1, 2, 3 ORDER BY 1, 2"
    )

    # cusum_events: the stateful reset-on-trigger CUSUM machine
    # replayed as a recursive CTE — all entities advance one row per
    # iteration (depth = longest series), state rides the recursion
    # (t/mu/sigma/s_pos/s_neg/obs-list), events accumulate as a list
    # unnested at the end. Exactly mirrors features_udf.cusum
    # (threshold=3, drift=0, warmup=10).
    o["cusum_events"] = r"""
WITH RECURSIVE
r AS (SELECT user_id, ts, CAST(value AS DOUBLE) AS value,
      row_number() OVER (PARTITION BY user_id ORDER BY ts) AS i FROM events),
nn AS (SELECT user_id, max(i) AS n FROM r GROUP BY user_id),
step AS (
  SELECT user_id, 0 AS i, 0 AS t, CAST(0 AS DOUBLE) AS mu,
         CAST(0 AS DOUBLE) AS sigma, CAST(0 AS DOUBLE) AS s_pos,
         CAST(0 AS DOUBLE) AS s_neg,
         CAST([] AS DOUBLE[]) AS obs, CAST([] AS INT[]) AS events
  FROM nn
  UNION ALL
  SELECT user_id, i,
    CASE WHEN warm OR sig2 = 0 THEN t0 WHEN trig THEN 0 ELSE t0 END AS t,
    mu2 AS mu, sig2 AS sigma,
    CASE WHEN warm OR sig2 = 0 THEN s_pos WHEN trig THEN 0.0 ELSE sp END AS s_pos,
    CASE WHEN warm OR sig2 = 0 THEN s_neg WHEN trig THEN 0.0 ELSE sn END AS s_neg,
    CASE WHEN warm THEN list_append(obs, v)
         WHEN sig2 = 0 THEN obs
         WHEN trig THEN CAST([] AS DOUBLE[]) ELSE obs END AS obs,
    list_append(events,
      CASE WHEN NOT warm AND sig2 != 0 AND trig THEN 1 ELSE 0 END) AS events
  FROM (
    SELECT u1.*, (sp > 3.0 OR sn < -3.0) AS trig FROM (
      SELECT u0.*,
        CASE WHEN warm OR sig2 = 0 THEN 0.0
             ELSE greatest(s_pos + (v - mu2)/nullif(sig2, 0), 0.0) END AS sp,
        CASE WHEN warm OR sig2 = 0 THEN 0.0
             ELSE least(s_neg + (v - mu2)/nullif(sig2, 0), 0.0) END AS sn
      FROM (
        SELECT s.user_id, r.i, s.t, s.s_pos, s.s_neg, s.obs, s.events,
          r.value AS v, s.t < 10 AS warm,
          CASE WHEN s.t < 10 THEN s.t + 1 WHEN s.t = 10 THEN 11 ELSE s.t END AS t0,
          CASE WHEN s.t = 10 THEN list_aggregate(s.obs, 'avg') ELSE s.mu END AS mu2,
          CASE WHEN s.t = 10 THEN coalesce(list_aggregate(s.obs, 'stddev_pop'), 0.0)
               ELSE s.sigma END AS sig2
        FROM step s JOIN r ON r.user_id = s.user_id AND r.i = s.i + 1
      ) u0
    ) u1
  ) u
),
fin AS (SELECT s.user_id, s.events FROM step s
        JOIN nn ON s.user_id = nn.user_id AND s.i = nn.n)
SELECT f.user_id, r.ts, f.events[r.i] AS event
FROM fin f JOIN r ON r.user_id = f.user_id
ORDER BY 1, 2
"""

    # dedup_embedding: regenerate the SAME seeded hyperplanes the
    # Spark operator uses and replay bucket-assignment + exact cosine
    # verify in SQL (plane constants inlined as list literals).
    import numpy as np

    _erng = np.random.default_rng(42)
    _planes = _erng.standard_normal((12, 64))

    def _plane_lit(p) -> str:
        return "[" + ", ".join(repr(float(x)) for x in p) + "]"

    _ebkt = " + ".join(
        f"(CASE WHEN list_inner_product(v, {_plane_lit(p)}) > 0 "
        f"THEN {2 ** i} ELSE 0 END)"
        for i, p in enumerate(_planes)
    )
    o["dedup_embedding"] = (
        f"WITH h AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, ({_ebkt}) AS bkt, "
        "sqrt(list_inner_product(CAST(embedding AS DOUBLE[]), "
        "CAST(embedding AS DOUBLE[]))) AS nrm FROM embeddings), "
        "pairs AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, "
        "list_inner_product(a.v, b.v)/(a.nrm*b.nrm) AS cosine "
        "FROM h a JOIN h b ON a.bkt = b.bkt AND a.vec_id < b.vec_id) "
        f"SELECT id_a, id_b, {_r('cosine')} AS cosine "
        "FROM pairs WHERE cosine >= 0.25 ORDER BY id_a, id_b"
    )

    # embedding_decontaminate: the same seeded-hyperplane buckets,
    # corpus side joined against the probe subset (vec_id % 7 = 0 —
    # the simulated eval set), exact cosine verify in-bucket
    o["embedding_decontaminate"] = (
        f"WITH h AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, ({_ebkt}) AS bkt, "
        "sqrt(list_inner_product(CAST(embedding AS DOUBLE[]), "
        "CAST(embedding AS DOUBLE[]))) AS nrm FROM embeddings), "
        "p AS (SELECT * FROM h WHERE vec_id % 7 = 0), "
        "pairs AS (SELECT a.vec_id AS corpus_id, b.vec_id AS probe_id, "
        "list_inner_product(a.v, b.v)/(a.nrm*b.nrm) AS cosine "
        "FROM h a JOIN p b ON a.bkt = b.bkt) "
        f"SELECT corpus_id, probe_id, {_r('cosine')} AS cosine "
        "FROM pairs WHERE cosine >= 0.5 ORDER BY corpus_id, probe_id"
    )

    o["ann_cosine_topk"] = (
        "WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0) "
        "SELECT vec_id, "
        + _r("list_cosine_similarity(CAST(embedding AS DOUBLE[]), qv)")
        + " AS cosine FROM embeddings, q WHERE vec_id != 0 "
        "ORDER BY cosine DESC, vec_id LIMIT 5"
    )

    # ann_ivf_topk: the whole IVF index build replayed — spread
    # (deterministic) centroid init at evenly-spaced positions of the
    # id-ordered sample, 5 unrolled Lloyd iterations with LIST-typed
    # centroids (assignment = first minimum, matching both numpy argmin
    # and the Spark when-chain), empty cells keep their previous
    # centroid, then the 3-nearest-cell probe and in-probe cosine
    # top-5. Lloyd is iterate-to-fixed-point, so cross-engine float
    # noise does not drift assignments (ties are measure-zero).
    def _ivf_d2(a: str, b: str) -> str:
        return (
            f"list_sum(list_transform(range(1, 65), "
            f"i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])))"
        )

    _ivf = [
        "smp AS (SELECT CAST(embedding AS DOUBLE[]) AS emb, "
        "row_number() OVER (ORDER BY vec_id) - 1 AS rn FROM embeddings)",
        "c0 AS (SELECT list(emb ORDER BY rn) AS C FROM smp WHERE rn IN "
        "(SELECT CAST(FLOOR(t.c * (SELECT COUNT(*) FROM smp) / 8.0) AS BIGINT) "
        "FROM range(0, 8) t(c)))",
    ]
    for m in range(5):
        _ivf.append(
            f"a{m} AS (SELECT rn, emb, list_position(dd, list_min(dd)) - 1 AS cell "
            f"FROM (SELECT s.rn, s.emb, list_transform(c.C, cc -> "
            f"{_ivf_d2('s.emb', 'cc')}) AS dd FROM smp s, c{m} c) z)"
        )
        _ivf.append(
            f"pc{m} AS (SELECT cell, list(av ORDER BY dim) AS cen FROM "
            f"(SELECT cell, t.i AS dim, AVG(emb[t.i]) AS av FROM a{m}, "
            "range(1, 65) t(i) GROUP BY cell, t.i) zz GROUP BY cell)"
        )
        _ivf.append(
            f"c{m + 1} AS (SELECT list(COALESCE(pc.cen, prev.C[cv.c + 1]) "
            f"ORDER BY cv.c) AS C FROM c{m} prev CROSS JOIN range(0, 8) cv(c) "
            f"LEFT JOIN pc{m} pc ON pc.cell = cv.c)"
        )
    o["ann_ivf_topk"] = (
        "WITH "
        + ", ".join(_ivf)
        + ", qv AS (SELECT CAST(embedding AS DOUBLE[]) AS q FROM embeddings "
        "WHERE vec_id = 0), "
        "probe AS (SELECT cv.c AS cell FROM c5, qv, range(0, 8) cv(c) "
        f"ORDER BY {_ivf_d2('qv.q', 'c5.C[cv.c + 1]')}, cv.c LIMIT 3), "
        "asn AS (SELECT vec_id, emb, list_position(dd, list_min(dd)) - 1 AS cell "
        "FROM (SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS emb, "
        f"list_transform(c.C, cc -> {_ivf_d2('CAST(e.embedding AS DOUBLE[])', 'cc')}) AS dd "
        "FROM embeddings e, c5 c WHERE e.vec_id != 0) z) "
        "SELECT vec_id, "
        + _r("list_cosine_similarity(emb, qv.q)")
        + " AS cosine FROM asn, qv WHERE cell IN (SELECT cell FROM probe) "
        "ORDER BY list_cosine_similarity(emb, qv.q) DESC, vec_id LIMIT 5"
    )

    # dedup_semantic: the same replayed k-means build (c5 centroids),
    # full-corpus cell assignment, then exact cosine within cells at
    # threshold 0.35 — SemDeDup's cluster-then-verify shape.
    o["dedup_semantic"] = (
        "WITH "
        + ", ".join(_ivf)
        + ", asn AS (SELECT vec_id, emb, "
        "list_position(dd, list_min(dd)) - 1 AS cell FROM "
        "(SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS emb, "
        f"list_transform(c.C, cc -> "
        f"{_ivf_d2('CAST(e.embedding AS DOUBLE[])', 'cc')}) AS dd "
        "FROM embeddings e, c5 c) z) "
        "SELECT a.vec_id AS id_a, b.vec_id AS id_b, "
        + _r("list_cosine_similarity(a.emb, b.emb)")
        + " AS cosine FROM asn a JOIN asn b "
        "ON a.cell = b.cell AND a.vec_id < b.vec_id "
        "WHERE list_cosine_similarity(a.emb, b.emb) >= 0.35 "
        "ORDER BY id_a, id_b"
    )

    # embedding_kmeans: the same replayed spread-init Lloyd build
    # (c5 centroids), then per-vector nearest-centroid cluster id +
    # squared distance. dist2 rounds at 4 decimals (64-term float sum).
    o["embedding_kmeans"] = (
        "WITH "
        + ", ".join(_ivf)
        + ", asn AS (SELECT vec_id, "
        "CAST(list_position(dd, list_min(dd)) - 1 AS INT) AS cluster, "
        "list_min(dd) AS d2 FROM "
        "(SELECT e.vec_id, "
        f"list_transform(c.C, cc -> "
        f"{_ivf_d2('CAST(e.embedding AS DOUBLE[])', 'cc')}) AS dd "
        "FROM embeddings e, c5 c) z) "
        "SELECT vec_id, cluster, "
        "ROUND(CAST(d2 AS DOUBLE) + 1e-9, 4) AS dist2 "
        "FROM asn ORDER BY vec_id"
    )

    # ann_pq_adc: the product-quantization build replayed — per-
    # subspace spread-init k-means (composite (m, cell) key in ONE CTE
    # chain), encode of every vector to its 8 sub-codes, and the ADC
    # distance (sum over subspaces of ||q_sub - codeword||^2) top-5.
    def _pq_d2(a: str, b: str, d: int) -> str:
        return (
            f"list_sum(list_transform(range(1, {d + 1}), "
            f"i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])))"
        )

    _M, _KS, _DS = 8, 16, 8

    def _pq_chain(px: str) -> list:
        """The PQ codebook build (per-subspace spread-init k-means, 5
        unrolled Lloyd iterations over a composite (m, cell) key) as a
        CTE list with prefixed names, so it can coexist with the IVF
        chain (which uses the same smp/c{i}/a{i}/pc{i} names) inside
        one WITH for the composed IVF_PQ oracle."""
        ch = [
            f"{px}smp AS (SELECT CAST(embedding AS DOUBLE[]) AS emb, "
            "row_number() OVER (ORDER BY vec_id) - 1 AS rn FROM embeddings)",
            f"{px}sub AS (SELECT rn, t.m AS m, "
            f"emb[(t.m*{_DS}+1):(t.m*{_DS}+{_DS})] AS s "
            f"FROM {px}smp, range(0, {_M}) t(m))",
            f"{px}c0 AS (SELECT m, list(s ORDER BY rn) AS C FROM {px}sub "
            "WHERE rn IN "
            f"(SELECT CAST(FLOOR(t.c * (SELECT COUNT(*) FROM {px}smp) / {_KS}.0) AS BIGINT) "
            f"FROM range(0, {_KS}) t(c)) GROUP BY m)",
        ]
        for it in range(5):
            ch.append(
                f"{px}a{it} AS (SELECT z.m, rn, s, "
                "list_position(dd, list_min(dd)) - 1 AS cell "
                f"FROM (SELECT {px}sub.m AS m, rn, s, list_transform(c.C, cc -> "
                f"{_pq_d2('s', 'cc', _DS)}) AS dd FROM {px}sub "
                f"JOIN {px}c{it} c ON {px}sub.m = c.m) z)"
            )
            ch.append(
                f"{px}pc{it} AS (SELECT m, cell, list(av ORDER BY dim) AS cen FROM "
                f"(SELECT m, cell, t.i AS dim, AVG(s[t.i]) AS av FROM {px}a{it}, "
                f"range(1, {_DS + 1}) t(i) GROUP BY m, cell, t.i) zz GROUP BY m, cell)"
            )
            ch.append(
                f"{px}c{it + 1} AS (SELECT prev.m AS m, "
                "list(COALESCE(pc.cen, prev.C[cv.c + 1]) "
                f"ORDER BY cv.c) AS C FROM {px}c{it} prev "
                f"CROSS JOIN range(0, {_KS}) cv(c) "
                f"LEFT JOIN {px}pc{it} pc ON pc.m = prev.m AND pc.cell = cv.c "
                "GROUP BY prev.m)"
            )
        return ch

    _pq = _pq_chain("")
    # ann_recall_ivf: compose the two fully-replayed searches (exact
    # brute top-5 and the complete IVF build + 3-probe top-5) and count
    # the id intersection — recall@5 as an exact value.
    o["ann_recall_ivf"] = (
        f"WITH exact AS ({o['ann_cosine_topk']}), "
        f"approx AS ({o['ann_ivf_topk']}) "
        "SELECT (SELECT COUNT(*) FROM exact) AS n_exact, "
        "COUNT(*) AS n_overlap, "
        + _r("COUNT(*) * 1.0 / (SELECT COUNT(*) FROM exact)")
        + " AS recall FROM exact e JOIN approx a ON e.vec_id = a.vec_id"
    )

    o["ann_pq_adc"] = (
        "WITH "
        + ", ".join(_pq)
        + ", esub AS (SELECT e.vec_id, t.m AS m, "
        f"CAST(e.embedding AS DOUBLE[])[(t.m*{_DS}+1):(t.m*{_DS}+{_DS})] AS s "
        f"FROM embeddings e, range(0, {_M}) t(m) WHERE e.vec_id != 0), "
        "codes AS (SELECT vec_id, z.m, list_position(dd, list_min(dd)) - 1 AS code "
        "FROM (SELECT vec_id, esub.m AS m, s, list_transform(c.C, cc -> "
        + _pq_d2("s", "cc", _DS)
        + ") AS dd FROM esub JOIN c5 c ON esub.m = c.m) z), "
        "qv AS (SELECT CAST(embedding AS DOUBLE[]) AS q FROM embeddings WHERE vec_id = 0), "
        "adc AS (SELECT codes.vec_id, SUM("
        + _pq_d2(f"qv.q[(codes.m*{_DS}+1):(codes.m*{_DS}+{_DS})]", "c.C[codes.code + 1]", _DS)
        + ") AS d2 FROM codes JOIN c5 c ON codes.m = c.m, qv GROUP BY codes.vec_id) "
        "SELECT vec_id, " + _r("d2") + " AS adc_d2 FROM adc "
        "ORDER BY d2, vec_id LIMIT 5"
    )

    # ann_ivf_pq_refine: the COMPLETE two-stage IVF_PQ retrieval
    # replayed end-to-end — the full IVF build (c5 centroids) picks the
    # 3 probe cells, the full PQ build (qc5 codebooks, prefixed CTE
    # chain) encodes the probed vectors and ranks them by ADC, the top
    # refine*k=20 shortlist is re-ranked by EXACT cosine, top-5 out.
    # Every stage (Lloyd iterations, first-min ties, ADC lookup sums,
    # the (adc_d2, vec_id) shortlist order, the final (cosine DESC,
    # vec_id) order) mirrors ivf_pq_search's arithmetic exactly.
    _pqq = _pq_chain("q")
    o["ann_ivf_pq_refine"] = (
        "WITH "
        + ", ".join(_ivf + _pqq)
        + ", qv AS (SELECT CAST(embedding AS DOUBLE[]) AS q FROM embeddings "
        "WHERE vec_id = 0), "
        "probe AS (SELECT cv.c AS cell FROM c5, qv, range(0, 8) cv(c) "
        f"ORDER BY {_ivf_d2('qv.q', 'c5.C[cv.c + 1]')}, cv.c LIMIT 3), "
        "asn AS (SELECT vec_id, emb, list_position(dd, list_min(dd)) - 1 AS cell "
        "FROM (SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS emb, "
        f"list_transform(c.C, cc -> {_ivf_d2('CAST(e.embedding AS DOUBLE[])', 'cc')}) AS dd "
        "FROM embeddings e, c5 c WHERE e.vec_id != 0) z), "
        "probed AS (SELECT vec_id, emb FROM asn "
        "WHERE cell IN (SELECT cell FROM probe)), "
        "pesub AS (SELECT p.vec_id, t.m AS m, "
        f"p.emb[(t.m*{_DS}+1):(t.m*{_DS}+{_DS})] AS s "
        f"FROM probed p, range(0, {_M}) t(m)), "
        "pcodes AS (SELECT vec_id, z.m, "
        "list_position(dd, list_min(dd)) - 1 AS code "
        "FROM (SELECT vec_id, pesub.m AS m, s, list_transform(c.C, cc -> "
        + _pq_d2("s", "cc", _DS)
        + ") AS dd FROM pesub JOIN qc5 c ON pesub.m = c.m) z), "
        "adc AS (SELECT pcodes.vec_id, SUM("
        + _pq_d2(
            f"qv.q[(pcodes.m*{_DS}+1):(pcodes.m*{_DS}+{_DS})]",
            "c.C[pcodes.code + 1]",
            _DS,
        )
        + ") AS d2 FROM pcodes JOIN qc5 c ON pcodes.m = c.m, qv "
        "GROUP BY pcodes.vec_id), "
        "short AS (SELECT vec_id FROM adc ORDER BY d2, vec_id LIMIT 20) "
        "SELECT p.vec_id, "
        + _r("list_cosine_similarity(p.emb, qv.q)")
        + " AS cosine FROM probed p JOIN short USING (vec_id), qv "
        "ORDER BY list_cosine_similarity(p.emb, qv.q) DESC, p.vec_id LIMIT 5"
    )

    # feat_udf_lempel_ziv: the LZ76 two-pointer distinct-substring scan
    # (features_udf.py:82-104) replayed as a recursive CTE: state =
    # (ind, inc, seen-substring list) over the binarized series; one
    # recursion step per scan step (<= 2n), terminal row = the first
    # state with ind + inc > n. as_ratio divides by series length.
    # --- text_pii: same deterministic PII weave as the Spark query,
    # same RE2-subset regexes, counted with regexp_extract_all
    _pii_aug = (
        "text || CASE WHEN doc_id % 3 = 0 THEN ' mail user' || doc_id || "
        "'@corp-' || (doc_id % 7) || '.io' ELSE '' END"
        " || CASE WHEN doc_id % 5 = 0 THEN ' call 555-123-4567' ELSE '' END"
        " || CASE WHEN doc_id % 13 = 0 THEN ' card 4111-1111-1111-1111' "
        "ELSE '' END"
        " || CASE WHEN doc_id % 17 = 0 THEN ' acct DE44500105175407324931' "
        "ELSE '' END"
        " || CASE WHEN doc_id % 7 = 0 THEN ' host 10.0.' || (doc_id % 200) || "
        "'.7' ELSE '' END"
        " || CASE WHEN doc_id % 11 = 0 THEN ' id 123-45-6789' ELSE '' END"
    )
    _pii_pats = {
        "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
        "phone": r"\+?\d{3}[-. ]\d{3}[-. ]\d{4}\b",
        "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
        "ssn": r"\b\d{3}-\d{2}-\d{4}\b",
        "credit_card": r"\b\d{4}[- ]\d{4}[- ]\d{4}[- ]\d{4}\b",
        "iban": r"\b[A-Z]{2}\d{2}[A-Z0-9]{11,30}\b",
    }
    _pii_counts = {
        k: f"len(regexp_extract_all(t, '{p}'))" for k, p in _pii_pats.items()
    }
    o["text_pii"] = (
        f"WITH aug AS (SELECT doc_id, {_pii_aug} AS t FROM documents) "
        "SELECT doc_id, "
        + ", ".join(
            f"CAST({c} AS BIGINT) AS n_{k}" for k, c in _pii_counts.items()
        )
        + ", CAST(("
        + " + ".join(_pii_counts.values())
        + ") > 0 AS INT) AS has_pii FROM aug ORDER BY doc_id"
    )

    # --- text_ngram_repetition: Gopher top/dup n-gram char fractions;
    # the gram explode is unnest(range) + inclusive list slicing
    o["text_ngram_repetition"] = (
        "WITH t AS (SELECT doc_id, length(text) AS nchars, "
        r"list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS ws "
        "FROM documents), "
        "nn AS (SELECT unnest([2,3,4,5]) AS n), "
        "gi AS (SELECT t.doc_id, t.nchars, nn.n, t.ws, "
        "unnest(range(1, len(t.ws) - nn.n + 2)) AS i "
        "FROM t JOIN nn ON len(t.ws) >= nn.n), "
        "g AS (SELECT doc_id, nchars, n, "
        "array_to_string(ws[CAST(i AS BIGINT):CAST(i + n - 1 AS BIGINT)], ' ') "
        "AS gram FROM gi), "
        "pg AS (SELECT doc_id, nchars, n, gram, COUNT(*) AS cnt FROM g "
        "GROUP BY ALL), "
        "pn AS (SELECT doc_id, nchars, n, MAX(cnt * length(gram)) AS topc, "
        "SUM(CASE WHEN cnt > 1 THEN cnt * length(gram) ELSE 0 END) AS dupc, "
        "SUM(cnt * length(gram)) AS allc FROM pg GROUP BY ALL), "
        "piv AS (SELECT doc_id, "
        "MAX(CASE WHEN n=2 THEN topc / nchars END) AS f2, "
        "MAX(CASE WHEN n=3 THEN topc / nchars END) AS f3, "
        "MAX(CASE WHEN n=4 THEN topc / nchars END) AS f4, "
        "MAX(CASE WHEN n=5 THEN dupc / allc END) AS d5 FROM pn GROUP BY doc_id) "
        "SELECT d.doc_id, "
        + _r("f2")
        + " AS top_2gram_char_frac, "
        + _r("f3")
        + " AS top_3gram_char_frac, "
        + _r("f4")
        + " AS top_4gram_char_frac, "
        + _r("d5")
        + " AS dup_5gram_char_frac "
        "FROM documents d LEFT JOIN piv USING (doc_id) ORDER BY doc_id"
    )

    # --- text_url_stats: same URL weave as the Spark query
    _url_aug = (
        "text || CASE WHEN doc_id % 4 = 0 THEN ' see https://site-' || "
        "(doc_id % 5) || '.org/p/' || doc_id ELSE '' END"
        " || CASE WHEN doc_id % 6 = 0 THEN ' ref https://spam.example/x' || "
        "doc_id ELSE '' END"
        " || CASE WHEN doc_id % 9 = 0 THEN ' also https://site-' || "
        "(doc_id % 5) || '.org/q' ELSE '' END"
    )
    o["text_url_stats"] = (
        f"WITH aug AS (SELECT doc_id, {_url_aug} AS t FROM documents), "
        "d AS (SELECT doc_id, t, "
        "regexp_extract_all(t, 'https?://([A-Za-z0-9.-]+)', 1) AS doms FROM aug) "
        "SELECT doc_id, "
        r"CAST(len(regexp_extract_all(t, 'https?://[A-Za-z0-9.-]+(/[^\s]*)?')) "
        "AS BIGINT) AS n_urls, "
        "CAST(len(list_distinct(doms)) AS BIGINT) AS n_domains, "
        "CASE WHEN len(doms) > 0 THEN doms[1] END AS first_domain, "
        "CAST(len(list_filter(doms, x -> list_contains(['spam.example', "
        "'malware.test'], x))) > 0 AS INT) AS has_blocked_domain "
        "FROM d ORDER BY doc_id"
    )

    # --- text_decontaminate: distinct 8-gram overlap vs the doc_id%29
    # benchmark subset; grams rebuilt with unnest(range) + inclusive
    # list slicing, the md5-hash probe join collapses to a string join
    o["text_decontaminate"] = (
        "WITH tok AS (SELECT doc_id, "
        r"list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS ws "
        "FROM documents), "
        "gi AS (SELECT doc_id, ws, unnest(range(1, len(ws) - 8 + 2)) AS i "
        "FROM tok WHERE len(ws) >= 8), "
        "dg AS (SELECT DISTINCT doc_id, "
        "array_to_string(ws[CAST(i AS BIGINT):CAST(i + 7 AS BIGINT)], ' ') "
        "AS gram FROM gi), "
        "tot AS (SELECT doc_id, COUNT(*) AS n FROM dg GROUP BY doc_id), "
        "bg AS (SELECT DISTINCT gram FROM dg WHERE doc_id % 29 = 0), "
        "hits AS (SELECT dg.doc_id, COUNT(*) AS h FROM dg "
        "JOIN bg USING (gram) GROUP BY dg.doc_id) "
        "SELECT d.doc_id, "
        "CAST(COALESCE(tot.n, 0) AS BIGINT) AS n_grams, "
        "CAST(COALESCE(hits.h, 0) AS BIGINT) AS n_contaminated, "
        + _r("CASE WHEN COALESCE(tot.n, 0) > 0 THEN "
             "COALESCE(hits.h, 0) / tot.n ELSE 0 END")
        + " AS contamination, "
        "CAST(COALESCE(hits.h, 0) > 0 AS INT) AS is_contaminated "
        "FROM documents d LEFT JOIN tot USING (doc_id) "
        "LEFT JOIN hits USING (doc_id) ORDER BY doc_id"
    )

    # --- embedding_stats: per-label per-dim centroid AVG, list
    # rebuild, cosine/inertia reduce — 6-dec rounding absorbs the
    # distributed-vs-serial summation order noise
    o["embedding_stats"] = (
        "WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v "
        "FROM embeddings), "
        "cd AS (SELECT label, t.i AS dim, AVG(v[t.i]) AS m FROM e, "
        "range(1, 65) t(i) GROUP BY label, t.i), "
        "cen AS (SELECT label, list(m ORDER BY dim) AS c FROM cd "
        "GROUP BY label), "
        "sc AS (SELECT e.label, "
        "sqrt(list_sum(list_transform(e.v, x -> x * x))) AS nrm, "
        "sqrt(list_sum(list_transform(cen.c, x -> x * x))) AS cnrm, "
        "list_sum(list_transform(range(1, 65), i -> e.v[i] * cen.c[i])) AS dt, "
        "list_sum(list_transform(range(1, 65), i -> "
        "(e.v[i] - cen.c[i]) * (e.v[i] - cen.c[i]))) AS d2 "
        "FROM e JOIN cen USING (label)) "
        "SELECT label, CAST(COUNT(*) AS BIGINT) AS n, "
        + _r("AVG(nrm)")
        + " AS mean_norm, "
        + _r("FIRST(cnrm)")
        + " AS centroid_norm, "
        + _r("AVG(dt / (nrm * cnrm))")
        + " AS mean_cos_centroid, "
        + _r("AVG(d2)")
        + " AS inertia FROM sc GROUP BY label ORDER BY label"
    )

    # --- corpus_mix_weights: quota solve replay — same (f * T) / t
    # expression order as the Spark projection
    _mixtgt = (
        "SELECT * FROM (VALUES ('src0', 0.5), ('src1', 0.3), ('src2', 0.2)) "
        "tt(source, target_frac)"
    )
    o["corpus_mix_weights"] = (
        "WITH cur AS (SELECT source, CAST(SUM(len(list_filter("
        r"string_split_regex(text, '\s+'), x -> x <> ''))) AS BIGINT) "
        "AS n_tokens FROM documents GROUP BY source), "
        f"tgt AS ({_mixtgt}), "
        "j AS (SELECT cur.source, cur.n_tokens, "
        "COALESCE(tgt.target_frac, 0.0) AS target_frac FROM cur "
        "LEFT JOIN tgt ON cur.source = tgt.source), "
        "tot AS (SELECT CAST(SUM(n_tokens) AS DOUBLE) AS t FROM cur), "
        "kt AS (SELECT MIN(n_tokens / target_frac) AS T FROM j "
        "WHERE target_frac > 0) "
        "SELECT j.source, j.n_tokens, "
        + _r("j.n_tokens / tot.t")
        + " AS current_frac, "
        + _r("j.target_frac")
        + " AS target_frac, "
        + _r(
            "CASE WHEN j.target_frac > 0 THEN "
            "LEAST(1.0, j.target_frac * kt.T / j.n_tokens) ELSE 0.0 END"
        )
        + " AS keep_frac, "
        + _r(
            "CASE WHEN j.target_frac > 0 THEN "
            "LEAST(1.0, j.target_frac * kt.T / j.n_tokens) ELSE 0.0 END "
            "* j.n_tokens"
        )
        + " AS est_tokens FROM j, tot, kt ORDER BY j.source"
    )

    # --- corpus_pack_shards: the two-phase distributed prefix sum
    # replayed with DuckDB's (single-node-fine) global running sum
    o["corpus_pack_shards"] = (
        "WITH t AS (SELECT doc_id, CAST(len(list_filter("
        r"string_split_regex(text, '\s+'), x -> x <> '')) AS BIGINT) "
        "AS n_tokens FROM documents), "
        "o AS (SELECT doc_id, n_tokens, COALESCE(SUM(n_tokens) OVER "
        "(ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), "
        "0) AS so FROM t) "
        "SELECT doc_id, n_tokens, CAST(so AS BIGINT) AS start_offset, "
        "CAST(FLOOR(so / 512.0) AS BIGINT) AS shard FROM o ORDER BY doc_id"
    )

    # --- corpus_shard_texts: shard materialization — per-shard doc
    # counts, token sums, and the concatenated training sequence in
    # offset order (string_agg ORDER BY so == array_sort on offset)
    o["corpus_shard_texts"] = (
        "WITH t AS (SELECT doc_id, text, CAST(len(list_filter("
        r"string_split_regex(text, '\s+'), x -> x <> '')) AS BIGINT) "
        "AS n_tokens FROM documents), "
        "o AS (SELECT doc_id, text, n_tokens, COALESCE(SUM(n_tokens) OVER "
        "(ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), "
        "0) AS so FROM t) "
        "SELECT CAST(FLOOR(so / 512.0) AS BIGINT) AS shard, "
        "CAST(COUNT(*) AS BIGINT) AS n_docs, "
        "CAST(SUM(n_tokens) AS BIGINT) AS n_tokens, "
        "string_agg(text, chr(10) || chr(10) ORDER BY so, doc_id) AS text "
        "FROM o GROUP BY 1 ORDER BY shard"
    )

    # --- corpus_split: deterministic md5-bucket train/val/test labels
    # (98/1/1), same bucket arithmetic as stratified_sample
    _sbkt = "(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 10000)"
    o["corpus_split"] = (
        f"SELECT doc_id, CASE WHEN {_sbkt} < 9800 THEN 'train' "
        f"WHEN {_sbkt} < 9900 THEN 'val' ELSE 'test' END AS split "
        "FROM documents ORDER BY doc_id"
    )

    # --- corpus_sample_per_group: md5(id)-ranked top-k per lang
    o["corpus_sample_per_group"] = (
        "SELECT doc_id, lang FROM (SELECT doc_id, lang, row_number() OVER "
        "(PARTITION BY lang ORDER BY "
        "('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT, doc_id"
        ") AS rk FROM documents) WHERE rk <= 20 ORDER BY doc_id"
    )

    # --- dedup_exact_incr: even ids = persisted hash store, odd ids =
    # new batch; kept = within-batch min-id per text, anti the store
    o["dedup_exact_incr"] = (
        "WITH st AS (SELECT DISTINCT md5(text) AS h FROM documents "
        "WHERE doc_id % 2 = 0), "
        "b AS (SELECT doc_id, md5(text) AS h FROM documents "
        "WHERE doc_id % 2 = 1), "
        "k AS (SELECT MIN(doc_id) AS doc_id, h FROM b GROUP BY h) "
        "SELECT k.doc_id FROM k WHERE k.h NOT IN (SELECT h FROM st) "
        "ORDER BY doc_id"
    )

    # --- corpus_pack_shuffled: the same layout in deterministic
    # pseudo-random order — the 60-bit md5(id) prefix is the packing
    # key, replayed with the global running sum over (key, id)
    o["corpus_pack_shuffled"] = (
        "WITH t AS (SELECT doc_id, CAST(len(list_filter("
        r"string_split_regex(text, '\s+'), x -> x <> '')) AS BIGINT) "
        "AS n_tokens, "
        "('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS k "
        "FROM documents), "
        "o AS (SELECT doc_id, n_tokens, COALESCE(SUM(n_tokens) OVER "
        "(ORDER BY k, doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), "
        "0) AS so FROM t) "
        "SELECT doc_id, n_tokens, CAST(so AS BIGINT) AS start_offset, "
        "CAST(FLOOR(so / 512.0) AS BIGINT) AS shard FROM o ORDER BY doc_id"
    )

    # --- text_tfidf_topk: sparse TF-IDF all-pairs replay — tf/df
    # aggregates, 50% max-df cutoff, smoothed idf, inverted-index
    # pair dots, 6-decimal-keyed row_number top-3
    _ndoc = "(SELECT COUNT(*) FROM documents)"
    o["text_tfidf_topk"] = (
        "WITH tk AS (SELECT doc_id, "
        r"unnest(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) "
        "AS token FROM documents), "
        "tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tk GROUP BY ALL), "
        "dfq AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token "
        f"HAVING COUNT(*) <= CAST(0.5 * {_ndoc} AS BIGINT)), "
        "wt AS (SELECT tf.doc_id, tf.token, "
        f"tf.tf * (ln(({_ndoc} + 1.0) / (dfq.df + 1.0)) + 1.0) AS w "
        "FROM tf JOIN dfq USING (token)), "
        "nr AS (SELECT doc_id, sqrt(SUM(w * w)) AS nrm FROM wt GROUP BY doc_id), "
        "dots AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, "
        "SUM(a.w * b.w) AS d FROM wt a JOIN wt b "
        "ON a.token = b.token AND a.doc_id < b.doc_id GROUP BY ALL), "
        "sims AS (SELECT id_a, id_b, d / (na.nrm * nb.nrm) AS cosine "
        "FROM dots JOIN nr na ON na.doc_id = id_a "
        "JOIN nr nb ON nb.doc_id = id_b), "
        "bidir AS (SELECT id_a AS doc_id, id_b AS sim_id, cosine FROM sims "
        "UNION ALL SELECT id_b, id_a, cosine FROM sims), "
        "rk AS (SELECT doc_id, sim_id, cosine, row_number() OVER "
        "(PARTITION BY doc_id ORDER BY ROUND(cosine + 1e-9, 6) DESC, sim_id) "
        "AS rank FROM bidir) "
        "SELECT doc_id, sim_id, "
        + _r("cosine")
        + " AS cosine, CAST(rank AS INT) AS rank FROM rk "
        "WHERE rank <= 3 ORDER BY doc_id, rank"
    )

    # --- text_bm25: Okapi BM25 top-10 for the 3-term query replayed —
    # row-local doc lengths, one avgdl scalar, query-filtered postings,
    # Lucene non-negative idf, rounded-score rank (ties -> doc_id).
    o["text_bm25"] = (
        "WITH base AS (SELECT doc_id, "
        r"list_filter(string_split_regex(text, '\s+'), x -> x <> '') "
        "AS tk FROM documents), "
        "stats AS (SELECT AVG(len(tk)) AS avgdl, "
        "CAST(COUNT(*) AS DOUBLE) AS n FROM base), "
        "tf AS (SELECT doc_id, dl, tok, CAST(COUNT(*) AS DOUBLE) AS tf "
        "FROM (SELECT doc_id, len(tk) AS dl, unnest(tk) AS tok FROM base) "
        "WHERE tok IN ('hash', 'join', 'scan') GROUP BY ALL), "
        "dfq AS (SELECT tok, CAST(COUNT(*) AS DOUBLE) AS df "
        "FROM tf GROUP BY tok), "
        "term AS (SELECT tf.doc_id, "
        "ln(1.0 + (stats.n - dfq.df + 0.5) / (dfq.df + 0.5)) "
        "* tf.tf * (1.2 + 1.0) "
        "/ (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * tf.dl / stats.avgdl)) AS s "
        "FROM tf JOIN dfq USING (tok), stats) "
        "SELECT doc_id, ROUND(SUM(s) + 1e-9, 6) AS bm25 FROM term "
        "GROUP BY doc_id ORDER BY bm25 DESC, doc_id ASC LIMIT 10"
    )
    # the persisted-index path must be score-identical to the direct
    # computation — same oracle, different Spark plan under test
    o["text_bm25_indexed"] = o["text_bm25"]
    # ...and so must the incremental path (fit on half, update with
    # the other half): the merge algebra is associative, so the
    # full-corpus SQL replay is again the oracle (r9)
    o["text_bm25_incremental"] = o["text_bm25"]

    # --- scale_cms_counts (r9): the Count-Min sketch replayed — the
    # same md5-seeded bucket assignment ('d:token', 15 hex chars ->
    # BIGINT, pmod width) as every dedup-oracle hash, the bounded
    # (d, bucket) counter table, and min-over-depth estimates for the
    # exact top-10 probes.
    o["scale_cms_counts"] = (
        r"WITH tk AS (SELECT unnest(list_filter(string_split_regex(text, '\s+'), "
        "x -> x <> '')) AS token FROM documents), "
        "ex AS (SELECT token, COUNT(*) AS exact FROM tk GROUP BY token), "
        "topt AS (SELECT * FROM ex ORDER BY exact DESC, token LIMIT 10), "
        "sk AS (SELECT d.d, "
        "('0x' || substr(md5(CAST(d.d AS VARCHAR) || ':' || token), 1, 15))"
        "::BIGINT % 256 AS bucket, COUNT(*) AS cnt "
        "FROM tk CROSS JOIN range(0, 4) d(d) GROUP BY ALL), "
        "pe AS (SELECT t.token, t.exact, MIN(COALESCE(sk.cnt, 0)) AS est "
        "FROM topt t CROSS JOIN range(0, 4) d(d) "
        "LEFT JOIN sk ON sk.d = d.d AND sk.bucket = "
        "('0x' || substr(md5(CAST(d.d AS VARCHAR) || ':' || t.token), 1, 15))"
        "::BIGINT % 256 "
        "GROUP BY t.token, t.exact) "
        "SELECT token, est, exact FROM pe ORDER BY exact DESC, token"
    )

    # --- graph_pagerank (r9): 10 power iterations UNROLLED — per
    # iteration one dangling-mass scalar (rank on nodes with no
    # out-edges), one contribution aggregate (rank/outdeg summed per
    # dst), and the teleport+damping recombination, exactly the
    # relational Pregel step pagerank() runs. (1 - 0.85) and every
    # division happen in the same IEEE order as the Spark side; the
    # damping contraction keeps 10-iteration float drift far below
    # the 6-decimal round.
    _pr_ctes = [
        "nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS c FROM documents)",
        "e AS MATERIALIZED (SELECT doc_id AS src, (doc_id*7 + 1) % nd.c AS dst "
        "FROM documents, nd "
        "UNION ALL SELECT doc_id, (doc_id*13 + 5) % nd.c "
        "FROM documents, nd)",
        "nodes AS MATERIALIZED (SELECT DISTINCT node FROM "
        "(SELECT src AS node FROM e UNION ALL SELECT dst FROM e))",
        "nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes)",
        "deg AS MATERIALIZED (SELECT src, CAST(COUNT(*) AS DOUBLE) AS dg "
        "FROM e GROUP BY src)",
        "r0 AS (SELECT node, 1.0/nn.n AS rank FROM nodes, nn)",
    ]
    for _k in range(1, 11):
        _pr_ctes.append(
            f"d{_k} AS (SELECT COALESCE(SUM(rank), 0.0) AS dm "
            f"FROM r{_k-1} r LEFT JOIN deg ON r.node = deg.src "
            "WHERE deg.src IS NULL)"
        )
        _pr_ctes.append(
            f"c{_k} AS (SELECT e.dst, SUM(r.rank / deg.dg) AS c "
            f"FROM e JOIN r{_k-1} r ON e.src = r.node "
            "JOIN deg ON e.src = deg.src GROUP BY e.dst)"
        )
        _pr_ctes.append(
            f"r{_k} AS MATERIALIZED (SELECT nodes.node, "
            "(1.0 - 0.85)/nn.n + 0.85 * "
            f"(COALESCE(c{_k}.c, 0.0) + d{_k}.dm/nn.n) AS rank "
            f"FROM nodes CROSS JOIN nn CROSS JOIN d{_k} "
            f"LEFT JOIN c{_k} ON nodes.node = c{_k}.dst)"
        )
    o["graph_pagerank"] = (
        "WITH " + ", ".join(_pr_ctes)
        + f" SELECT node, {_r('rank')} AS rank FROM r10 ORDER BY node"
    )

    # --- retrieval_mmr (r9): the greedy Maximal-Marginal-Relevance
    # loop unrolled — 8 steps, each one a penalty aggregate (max
    # cosine to the selected set) + an argmax with id tiebreak, over
    # the MATERIALIZED cosine top-20 shortlist. (1.0 - 0.7) is written
    # as the expression so both engines use the same IEEE constant.
    _mmr_ctes = [
        "q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings "
        "WHERE vec_id = 0)",
        "cand AS MATERIALIZED (SELECT vec_id AS id, "
        "list_cosine_similarity(CAST(embedding AS DOUBLE[]), qv) AS score, "
        "CAST(embedding AS DOUBLE[]) AS v "
        "FROM embeddings, q WHERE vec_id != 0 "
        "ORDER BY score DESC, vec_id LIMIT 20)",
        "s1 AS MATERIALIZED (SELECT 1 AS r, id, score, 0.7 * score AS mmr, v "
        "FROM cand ORDER BY mmr DESC, id LIMIT 1)",
        "sel1 AS MATERIALIZED (SELECT id, v FROM s1)",
    ]
    for _k in range(2, 9):
        _mmr_ctes.append(
            f"m{_k} AS MATERIALIZED (SELECT c.id, c.score, c.v, "
            "0.7 * c.score - (1.0 - 0.7) * "
            "MAX(list_cosine_similarity(c.v, s.v)) AS mmr "
            f"FROM cand c, sel{_k-1} s "
            f"WHERE c.id NOT IN (SELECT id FROM sel{_k-1}) "
            "GROUP BY c.id, c.score, c.v)"
        )
        _mmr_ctes.append(
            f"s{_k} AS MATERIALIZED (SELECT {_k} AS r, id, score, mmr, v "
            f"FROM m{_k} ORDER BY mmr DESC, id LIMIT 1)"
        )
        _mmr_ctes.append(
            f"sel{_k} AS MATERIALIZED (SELECT id, v FROM sel{_k-1} "
            f"UNION ALL SELECT id, v FROM s{_k})"
        )
    o["retrieval_mmr"] = (
        "WITH " + ", ".join(_mmr_ctes)
        + " SELECT CAST(r AS INT) AS mmr_rank, id, "
        + _r("score") + " AS score, " + _r("mmr") + " AS mmr FROM ("
        + " UNION ALL ".join(
            f"SELECT r, id, score, mmr FROM s{_k}" for _k in range(1, 9)
        )
        + ") ORDER BY mmr_rank"
    )

    # --- text_hybrid_rrf (r9): both retrievers replayed, then the
    # Reciprocal Rank Fusion — BM25 top-25 (rounded-score rank) and
    # dense cosine top-25 (raw-cosine cut like ann_cosine_topk, then
    # rounded-cosine rank), full-outer joined; rrf = 1/(60+r) per
    # present list. The RRF terms are exact rationals of integer
    # ranks, so the fusion compare is noise-free by construction.
    o["text_hybrid_rrf"] = (
        "WITH base AS (SELECT doc_id, "
        r"list_filter(string_split_regex(text, '\s+'), x -> x <> '') "
        "AS tk FROM documents), "
        "stats AS (SELECT AVG(len(tk)) AS avgdl, "
        "CAST(COUNT(*) AS DOUBLE) AS n FROM base), "
        "tf AS (SELECT doc_id, dl, tok, CAST(COUNT(*) AS DOUBLE) AS tf "
        "FROM (SELECT doc_id, len(tk) AS dl, unnest(tk) AS tok FROM base) "
        "WHERE tok IN ('hash', 'join', 'scan') GROUP BY ALL), "
        "dfq AS (SELECT tok, CAST(COUNT(*) AS DOUBLE) AS df "
        "FROM tf GROUP BY tok), "
        "term AS (SELECT tf.doc_id, "
        "ln(1.0 + (stats.n - dfq.df + 0.5) / (dfq.df + 0.5)) "
        "* tf.tf * (1.2 + 1.0) "
        "/ (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * tf.dl / stats.avgdl)) AS s "
        "FROM tf JOIN dfq USING (tok), stats), "
        "bm AS (SELECT doc_id, ROUND(SUM(s) + 1e-9, 6) AS bm25 FROM term "
        "GROUP BY doc_id ORDER BY bm25 DESC, doc_id ASC LIMIT 25), "
        "bmr AS (SELECT doc_id AS id, row_number() OVER "
        "(ORDER BY bm25 DESC, doc_id ASC) AS r_bm25 FROM bm), "
        "q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings "
        "WHERE vec_id = 0), "
        "dn AS (SELECT vec_id, ROUND(list_cosine_similarity("
        "CAST(embedding AS DOUBLE[]), qv) + 1e-9, 6) AS cosine "
        "FROM embeddings, q WHERE vec_id != 0 "
        "ORDER BY list_cosine_similarity(CAST(embedding AS DOUBLE[]), qv) "
        "DESC, vec_id LIMIT 25), "
        "dnr AS (SELECT vec_id AS id, row_number() OVER "
        "(ORDER BY cosine DESC, vec_id ASC) AS r_dense FROM dn), "
        "fused AS (SELECT COALESCE(bmr.id, dnr.id) AS id, "
        "COALESCE(1.0 / (60 + r_bm25), 0.0) "
        "+ COALESCE(1.0 / (60 + r_dense), 0.0) AS rrf, "
        "CAST(r_bm25 AS INT) AS r_bm25, CAST(r_dense AS INT) AS r_dense "
        "FROM bmr FULL OUTER JOIN dnr ON bmr.id = dnr.id) "
        "SELECT id, " + _r("rrf") + " AS rrf, r_bm25, r_dense "
        "FROM fused ORDER BY rrf DESC, id LIMIT 10"
    )

    # --- text_lm_score: the whole interpolated bigram LM replayed —
    # token/pair counts, driver scalars as a cross-joined 1-row CTE,
    # per-token log-probs, per-doc cross-entropy. The 1-lam literal is
    # Python's 1-0.7 double so both engines interpolate identically.
    _oml = repr(1 - 0.7)  # 0.30000000000000004 — matches F.lit(1 - lam)
    _lm_with = (
        "WITH tok AS (SELECT doc_id, "
        r"list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS ws "
        "FROM documents), "
        "st AS (SELECT doc_id, ws, unnest(range(1, len(ws) + 1)) AS i FROM tok), "
        "s AS (SELECT doc_id, CASE WHEN i > 1 THEN ws[CAST(i - 1 AS BIGINT)] END "
        "AS w1, ws[CAST(i AS BIGINT)] AS w2 FROM st), "
        "uni AS (SELECT w2 AS w, COUNT(*) AS c FROM s GROUP BY w2), "
        "bi AS (SELECT w1, w2, COUNT(*) AS c FROM s WHERE w1 IS NOT NULL "
        "GROUP BY w1, w2), "
        "tot AS (SELECT CAST(SUM(c) AS DOUBLE) AS n, "
        "CAST(COUNT(*) AS DOUBLE) AS v FROM uni), "
        "sc AS (SELECT s.doc_id, CASE WHEN s.w1 IS NULL THEN "
        "ln((u2.c + 0.5) / (tot.n + 0.5 * tot.v)) ELSE "
        f"ln(0.7 * COALESCE(b.c / u1.c, 0) + {_oml} * "
        "(u2.c + 0.5) / (tot.n + 0.5 * tot.v)) END AS lp "
        "FROM s JOIN uni u2 ON u2.w = s.w2 "
        "LEFT JOIN uni u1 ON u1.w = s.w1 "
        "LEFT JOIN bi b ON b.w1 = s.w1 AND b.w2 = s.w2 CROSS JOIN tot), "
        "pd AS (SELECT doc_id, COUNT(*) AS k, -AVG(lp) AS ce FROM sc "
        "GROUP BY doc_id)"
    )
    o["text_lm_score"] = (
        _lm_with + " SELECT d.doc_id, CAST(COALESCE(pd.k, 0) AS BIGINT) AS n_tokens, "
        + _r("COALESCE(pd.ce, 0)")
        + " AS cross_entropy, "
        + _r("exp(COALESCE(pd.ce, 0))")
        + " AS perplexity "
        "FROM documents d LEFT JOIN pd USING (doc_id) ORDER BY doc_id"
    )

    # --- text_lm3_score / text_lm3_heldout (r10): the interpolated
    # TRIGRAM chain replayed — triple stream (w1/w2 null-padded),
    # trigram/bigram/unigram counts, five scoring joins, coalesce-to-
    # zero backoff. lam1 is the SAME computed double Spark multiplies
    # by (repr(1.0 - 0.5 - 0.3)); bi counts adjacent pairs anywhere
    # (doc-end pairs included), matching the engine's derivation.
    _l1 = repr(1.0 - 0.5 - 0.3)  # 0.19999999999999998 == F.lit(lam1)

    def _lm3_sql(heldout: bool) -> str:
        fit_w = " WHERE doc_id % 2 = 0" if heldout else ""
        sc_w = " WHERE s.doc_id % 2 = 1" if heldout else ""
        out_w = " WHERE d.doc_id % 2 = 1" if heldout else ""
        flr = "(0.5 / (tot.n + 0.5 * tot.v))"
        pu = (
            f"CASE WHEN u3.c IS NULL THEN {flr} ELSE "
            "(u3.c + 0.5) / (tot.n + 0.5 * tot.v) END"
            if heldout
            else "(u3.c + 0.5) / (tot.n + 0.5 * tot.v)"
        )
        u3_join = (
            "LEFT JOIN uni u3 ON u3.w = s.w3"
            if heldout
            else "JOIN uni u3 ON u3.w = s.w3"
        )
        return (
            "WITH tok AS (SELECT doc_id, "
            r"list_filter(string_split_regex(text, '\s+'), x -> x <> '') "
            "AS ws FROM documents), "
            "st AS (SELECT doc_id, ws, unnest(range(1, len(ws) + 1)) AS i "
            "FROM tok), "
            "s AS (SELECT doc_id, "
            "CASE WHEN i > 2 THEN ws[CAST(i - 2 AS BIGINT)] END AS w1, "
            "CASE WHEN i > 1 THEN ws[CAST(i - 1 AS BIGINT)] END AS w2, "
            "ws[CAST(i AS BIGINT)] AS w3 FROM st), "
            f"uni AS (SELECT w3 AS w, COUNT(*) AS c FROM s{fit_w} "
            "GROUP BY w3), "
            "bi AS (SELECT w2 AS wa, w3 AS wb, COUNT(*) AS c FROM s "
            f"WHERE w2 IS NOT NULL{fit_w.replace(' WHERE', ' AND')} "
            "GROUP BY w2, w3), "
            "tri AS (SELECT w1, w2, w3, COUNT(*) AS c FROM s "
            f"WHERE w1 IS NOT NULL{fit_w.replace(' WHERE', ' AND')} "
            "GROUP BY w1, w2, w3), "
            "tot AS (SELECT CAST(SUM(c) AS DOUBLE) AS n, "
            "CAST(COUNT(*) AS DOUBLE) AS v FROM uni), "
            "sc AS (SELECT s.doc_id, CASE WHEN s.w2 IS NULL THEN "
            f"ln({pu}) ELSE "
            f"ln(0.5 * COALESCE(t.c / ctx.c, 0) "
            f"+ 0.3 * COALESCE(b.c / u2.c, 0) + {_l1} * ({pu})) END AS lp "
            f"FROM s {u3_join} "
            "LEFT JOIN uni u2 ON u2.w = s.w2 "
            "LEFT JOIN bi b ON b.wa = s.w2 AND b.wb = s.w3 "
            "LEFT JOIN bi ctx ON ctx.wa = s.w1 AND ctx.wb = s.w2 "
            "LEFT JOIN tri t ON t.w1 = s.w1 AND t.w2 = s.w2 "
            f"AND t.w3 = s.w3 CROSS JOIN tot{sc_w}), "
            "pd AS (SELECT doc_id, COUNT(*) AS k, -AVG(lp) AS ce FROM sc "
            "GROUP BY doc_id) "
            "SELECT d.doc_id, CAST(COALESCE(pd.k, 0) AS BIGINT) AS "
            "n_tokens, " + _r("COALESCE(pd.ce, 0)") + " AS cross_entropy, "
            + _r("exp(COALESCE(pd.ce, 0))") + " AS perplexity "
            f"FROM documents d LEFT JOIN pd USING (doc_id){out_w} "
            "ORDER BY d.doc_id"
        )

    o["text_lm3_score"] = _lm3_sql(False)
    o["text_lm3_heldout"] = _lm3_sql(True)

    # --- text_lm_heldout: LM counts from the even half, scores for
    # the odd half — the OOV floor (u2 missing) and unseen-prev
    # (u1/b missing -> bigram term 0) branches are live
    _flr = "(0.5 / (tot.n + 0.5 * tot.v))"
    _pu = f"CASE WHEN u2.c IS NULL THEN {_flr} ELSE (u2.c + 0.5) / (tot.n + 0.5 * tot.v) END"
    o["text_lm_heldout"] = (
        "WITH tok AS (SELECT doc_id, "
        r"list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS ws "
        "FROM documents), "
        "st AS (SELECT doc_id, ws, unnest(range(1, len(ws) + 1)) AS i FROM tok), "
        "s AS (SELECT doc_id, CASE WHEN i > 1 THEN ws[CAST(i - 1 AS BIGINT)] END "
        "AS w1, ws[CAST(i AS BIGINT)] AS w2 FROM st), "
        "uni AS (SELECT w2 AS w, COUNT(*) AS c FROM s WHERE doc_id % 2 = 0 "
        "GROUP BY w2), "
        "bi AS (SELECT w1, w2, COUNT(*) AS c FROM s WHERE w1 IS NOT NULL "
        "AND doc_id % 2 = 0 GROUP BY w1, w2), "
        "tot AS (SELECT CAST(SUM(c) AS DOUBLE) AS n, "
        "CAST(COUNT(*) AS DOUBLE) AS v FROM uni), "
        "sc AS (SELECT s.doc_id, CASE WHEN s.w1 IS NULL THEN "
        f"ln({_pu}) ELSE "
        f"ln(0.7 * COALESCE(b.c / u1.c, 0) + {_oml} * ({_pu})) END AS lp "
        "FROM s LEFT JOIN uni u2 ON u2.w = s.w2 "
        "LEFT JOIN uni u1 ON u1.w = s.w1 "
        "LEFT JOIN bi b ON b.w1 = s.w1 AND b.w2 = s.w2 CROSS JOIN tot "
        "WHERE s.doc_id % 2 = 1), "
        "pd AS (SELECT doc_id, COUNT(*) AS k, -AVG(lp) AS ce FROM sc "
        "GROUP BY doc_id) "
        "SELECT d.doc_id, CAST(COALESCE(pd.k, 0) AS BIGINT) AS n_tokens, "
        + _r("COALESCE(pd.ce, 0)")
        + " AS cross_entropy, "
        + _r("exp(COALESCE(pd.ce, 0))")
        + " AS perplexity FROM documents d "
        "LEFT JOIN pd USING (doc_id) WHERE d.doc_id % 2 = 1 ORDER BY d.doc_id"
    )

    # --- roundtrip identity oracles: invert(transform(y)) must equal
    # the input panel itself
    _events_identity = (
        "SELECT user_id, ts, "
        + _r("value")
        + " AS value FROM events ORDER BY user_id, ts"
    )
    o["preproc_detrend_roundtrip"] = _events_identity
    o["preproc_yeojohnson_roundtrip"] = _events_identity

    # --- text_quality_tiers: same LM chain, 6-dec-rounded scores,
    # exact-percentile quartile cuts (quantile_cont == F.percentile),
    # tier = count of cuts strictly below the score
    o["text_quality_tiers"] = (
        _lm_with + ", ce AS (SELECT d.doc_id, "
        + _r("COALESCE(pd.ce, 0)")
        + " AS cross_entropy FROM documents d LEFT JOIN pd USING (doc_id)), "
        "cuts AS (SELECT quantile_cont(cross_entropy, 0.25) AS q1, "
        "quantile_cont(cross_entropy, 0.5) AS q2, "
        "quantile_cont(cross_entropy, 0.75) AS q3 FROM ce) "
        "SELECT ce.doc_id, ce.cross_entropy, "
        "CAST(CAST(ce.cross_entropy > cuts.q1 AS INT) + "
        "CAST(ce.cross_entropy > cuts.q2 AS INT) + "
        "CAST(ce.cross_entropy > cuts.q3 AS INT) AS INT) AS tier "
        "FROM ce, cuts ORDER BY ce.doc_id"
    )

    # --- corpus_stats: straight aggregate replay (Spark F.median and
    # DuckDB median both interpolate the even-count middle pair)
    o["corpus_stats"] = (
        "WITH t AS (SELECT lang, source, length(text) AS ch, "
        r"len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS tk "
        "FROM documents) "
        "SELECT lang, source, COUNT(*) AS n_docs, "
        "CAST(SUM(ch) AS BIGINT) AS total_chars, "
        + _r("AVG(ch)")
        + " AS mean_chars, "
        + _r("median(ch)")
        + " AS median_chars, "
        "CAST(SUM(tk) AS BIGINT) AS total_tokens "
        "FROM t GROUP BY lang, source ORDER BY lang, source"
    )

    # --- corpus_stats_rollup: the same report over GROUP BY ROLLUP —
    # subtotal rows carry NULL keys in both engines
    o["corpus_stats_rollup"] = (
        "WITH t AS (SELECT lang, source, length(text) AS ch, "
        r"len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS tk "
        "FROM documents) "
        "SELECT lang, source, COUNT(*) AS n_docs, "
        "CAST(SUM(ch) AS BIGINT) AS total_chars, "
        + _r("AVG(ch)")
        + " AS mean_chars, "
        + _r("median(ch)")
        + " AS median_chars, "
        "CAST(SUM(tk) AS BIGINT) AS total_tokens "
        "FROM t GROUP BY ROLLUP (lang, source) ORDER BY lang, source"
    )

    # --- domain_stats: per-domain curation report over the planted
    # crawl URLs; the oracle derives the expected canonical domain
    # DIRECTLY from the planted structure (lowercased host, default
    # port stripped) — independent ground truth, not a formula replay
    o["domain_stats"] = (
        "WITH d AS (SELECT doc_id, text, "
        "'www.site' || CAST(doc_id % 7 AS VARCHAR) || '.com' AS domain "
        "FROM documents) "
        "SELECT domain, CAST(COUNT(*) AS BIGINT) AS n_docs, "
        "CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_unique, "
        + _r("1.0 - COUNT(DISTINCT md5(text)) / CAST(COUNT(*) AS DOUBLE)")
        + " AS dup_share, "
        "CAST(SUM(len(list_filter("
        r"string_split_regex(text, '\s+'), x -> x <> ''))) AS BIGINT) "
        "AS total_tokens, "
        + _r("AVG(length(text))")
        + " AS mean_chars FROM d GROUP BY domain ORDER BY domain"
    )

    # --- corpus_quantiles: exact per-lang char-length quantiles —
    # Spark `percentile` and DuckDB `quantile_cont` both linearly
    # interpolate (R-7), so values agree to float noise
    o["corpus_quantiles"] = (
        "SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs, "
        + _r("quantile_cont(CAST(n_chars AS DOUBLE), 0.25)")
        + " AS q25, "
        + _r("quantile_cont(CAST(n_chars AS DOUBLE), 0.5)")
        + " AS q50, "
        + _r("quantile_cont(CAST(n_chars AS DOUBLE), 0.75)")
        + " AS q75, "
        + _r("quantile_cont(CAST(n_chars AS DOUBLE), 0.95)")
        + " AS q95 "
        "FROM documents GROUP BY lang ORDER BY lang"
    )

    # --- corpus_temperature_mix: w_d = tokens_d^0.7 / sum(tokens^0.7),
    # upsample = weight / current share — every ratio replayed
    _tmx = "pow(CAST(n_tokens AS DOUBLE), 0.7)"
    o["corpus_temperature_mix"] = (
        "WITH cur AS (SELECT lang, CAST(SUM(len(list_filter("
        r"string_split_regex(text, '\s+'), x -> x <> ''))) AS BIGINT) "
        "AS n_tokens FROM documents GROUP BY lang), "
        "tot AS (SELECT CAST(SUM(n_tokens) AS DOUBLE) AS t, "
        f"SUM({_tmx}) AS wt FROM cur) "
        "SELECT lang, n_tokens, "
        + _r("n_tokens / t")
        + " AS current_frac, "
        + _r(f"{_tmx} / wt")
        + " AS weight, "
        + _r(f"({_tmx} / wt) / (n_tokens / t)")
        + " AS upsample_factor "
        "FROM cur, tot ORDER BY lang"
    )

    # --- stratified_sample: same md5-bucket arithmetic as the Spark
    # filter (hex prefix -> bigint -> pmod), per-language fractions
    _bkt = "(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 10000)"
    # --- corpus_dsir: DSIR hashed-ngram importance weights replayed —
    # unigram+bigram stream, the md5 bucket arithmetic, both count
    # tables (target = en slice), add-1 smoothing over 256 buckets,
    # and the per-doc log-ratio sum.
    o["corpus_dsir"] = (
        "WITH tok AS (SELECT doc_id, "
        r"list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS ws "
        "FROM documents), "
        "st AS (SELECT doc_id, ws, unnest(range(1, len(ws) + 1)) AS i FROM tok), "
        "f AS (SELECT doc_id, ws[CAST(i AS BIGINT)] AS t FROM st "
        "UNION ALL SELECT doc_id, ws[CAST(i - 1 AS BIGINT)] || ' ' || "
        "ws[CAST(i AS BIGINT)] AS t FROM st WHERE i > 1), "
        "b AS (SELECT doc_id, "
        "(('0x' || substr(md5('1:' || t), 1, 15))::BIGINT % 256) AS bkt FROM f), "
        "ct AS (SELECT bkt, CAST(COUNT(*) AS DOUBLE) AS c FROM b "
        "JOIN documents d USING (doc_id) WHERE d.lang = 'en' GROUP BY bkt), "
        "cr AS (SELECT bkt, CAST(COUNT(*) AS DOUBLE) AS c FROM b GROUP BY bkt), "
        "tot AS (SELECT (SELECT COALESCE(SUM(c), 0) FROM ct) AS T, "
        "(SELECT COALESCE(SUM(c), 0) FROM cr) AS R), "
        "sc AS (SELECT b.doc_id, "
        "ln((COALESCE(ct.c, 0) + 1.0) / (tot.T + 256.0)) - "
        "ln((COALESCE(cr.c, 0) + 1.0) / (tot.R + 256.0)) AS lr "
        "FROM b LEFT JOIN ct USING (bkt) LEFT JOIN cr USING (bkt) CROSS JOIN tot), "
        "pd AS (SELECT doc_id, COUNT(*) AS k, SUM(lr) AS lw FROM sc GROUP BY doc_id) "
        "SELECT d.doc_id, CAST(COALESCE(pd.k, 0) AS BIGINT) AS n_feats, "
        + _r("COALESCE(pd.lw, 0)")
        + " AS log_weight FROM documents d LEFT JOIN pd USING (doc_id) "
        "ORDER BY d.doc_id"
    )

    o["stratified_sample"] = (
        "SELECT doc_id, lang, source FROM documents WHERE "
        f"(lang = 'en' AND {_bkt} < 5000) OR "
        f"(lang = 'de' AND {_bkt} < 2500) OR "
        f"(lang = 'zh' AND {_bkt} < 10000) "
        "ORDER BY doc_id"
    )

    # --- text_classifier: the full 12-step Newton-IRLS logistic fit
    # (features: mean word length, en-stopword ratio; label lang='en')
    # replayed in a recursive CTE — same shape as the zero_inflated
    # replay but over the documents design matrix — then per-doc
    # sigmoid scoring with the converged weights.
    _clf_en = ", ".join(f"'{w}'" for w in LANG_LEXICONS["en"])
    _clf_newton = (
        "SELECT it.k, it.w1, it.w2, it.b, tr.f1 AS l1, tr.f2 AS l2, tr.lab, "
        "1/(1 + exp(-(it.w1*tr.f1 + it.w2*tr.f2 + it.b))) AS pp "
        "FROM it, tr WHERE it.k < 12"
    )
    _clf_hagg = (
        "SELECT k, w1, w2, b, "
        "SUM((pp - lab)*l1) AS g1, SUM((pp - lab)*l2) AS g2, SUM(pp - lab) AS g3, "
        "SUM(pp*(1-pp)*l1*l1) AS h11, SUM(pp*(1-pp)*l1*l2) AS h12, "
        "SUM(pp*(1-pp)*l1) AS h13, SUM(pp*(1-pp)*l2*l2) AS h22, "
        "SUM(pp*(1-pp)*l2) AS h23, SUM(pp*(1-pp)) AS h33 "
        f"FROM ({_clf_newton}) rr GROUP BY 1, 2, 3, 4"
    )
    _clf_cram3 = (
        "(g1*(h22*h33 - h23*h23) - h12*(g2*h33 - h23*g3) + h13*(g2*h23 - h22*g3)) AS d1, "
        "(h11*(g2*h33 - h23*g3) - g1*(h12*h33 - h23*h13) + h13*(h12*g3 - g2*h13)) AS d2, "
        "(h11*(h22*g3 - g2*h23) - h12*(h12*g3 - g2*h13) + g1*(h12*h23 - h22*h13)) AS d3, "
        "(h11*(h22*h33 - h23*h23) - h12*(h12*h33 - h23*h13) + h13*(h12*h23 - h22*h13)) AS det"
    )
    _clf_p = "1/(1 + exp(-(c.w1*tr.f1 + c.w2*tr.f2 + c.b)))"
    o["text_classifier"] = (
        "WITH RECURSIVE "
        "t0 AS (SELECT doc_id, lang, text, "
        r"string_split_regex(text, '\s+') AS ws FROM documents), "
        "tr AS (SELECT doc_id, "
        "CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS lab, "
        "length(text)/CAST(len(ws) AS DOUBLE) AS f1, "
        f"len(list_filter(ws, x -> list_contains([{_clf_en}], x)))"
        "/CAST(len(ws) AS DOUBLE) AS f2 FROM t0), "
        "it AS (SELECT 0 AS k, CAST(0 AS DOUBLE) AS w1, "
        "CAST(0 AS DOUBLE) AS w2, CAST(0 AS DOUBLE) AS b "
        "UNION ALL SELECT k + 1, w1 - d1/det, w2 - d2/det, b - d3/det "
        f"FROM (SELECT k, w1, w2, b, {_clf_cram3} FROM ({_clf_hagg}) hh) ss), "
        "c AS (SELECT w1, w2, b FROM it ORDER BY k DESC LIMIT 1) "
        "SELECT tr.doc_id, "
        + _r(_clf_p)
        + f" AS prob, CAST({_clf_p} > 0.5 AS INT) AS pred "
        "FROM tr, c ORDER BY tr.doc_id"
    )

    # --- sessionize: gaps-and-islands replay of F.session_window.
    # Break rule is STRICTLY greater (events exactly `gap` apart merge
    # — Spark joins adjacent inclusive session ranges).
    o["sessionize"] = (
        "WITH s AS (SELECT user_id, ts, value, "
        "CASE WHEN lag(ts) OVER w IS NULL "
        "OR ts - lag(ts) OVER w > INTERVAL '6 hours' THEN 1 ELSE 0 END AS brk "
        "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)), "
        "g AS (SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts) "
        "AS sid FROM s) "
        "SELECT user_id, MIN(ts) AS session_start, MAX(ts) AS last_event, "
        "CAST(COUNT(*) AS BIGINT) AS n_events, "
        + _r("SUM(value)")
        + " AS value FROM g GROUP BY user_id, sid "
        "ORDER BY user_id, session_start"
    )

    # --- ann_sq8_topk: scalar-quantization fit (per-dim min/max over
    # the corpus), uint8 encode (floor(x/scale + .5) clamp), approx-
    # cosine shortlist on the dequantized codes, exact top-5 refine —
    # every step deterministic double arithmetic, replayed verbatim
    o["ann_sq8_topk"] = (
        "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v "
        "FROM embeddings), "
        "q AS (SELECT v AS qv FROM e WHERE vec_id = 0), "
        "dims AS (SELECT unnest(range(1, 65)) AS i), "
        "st AS (SELECT i, MIN(v[i]) AS mn, MAX(v[i]) AS mx "
        "FROM e, dims WHERE vec_id != 0 GROUP BY i), "
        "stats AS (SELECT list(mn ORDER BY i) AS mns, "
        "list((mx - mn) / 255 ORDER BY i) AS scs FROM st), "
        "enc AS (SELECT vec_id, v, "
        "list_transform(range(1, 65), i -> CASE WHEN scs[i] = 0 THEN 0 "
        "ELSE least(255, greatest(0, CAST(floor((v[i] - mns[i]) / scs[i] "
        "+ 0.5) AS INT))) END) AS codes FROM e, stats WHERE vec_id != 0), "
        "deq AS (SELECT vec_id, v, "
        "list_transform(range(1, 65), i -> mns[i] + codes[i] * scs[i]) AS dv "
        "FROM enc, stats), "
        "appr AS (SELECT vec_id, v, list_cosine_similarity(dv, qv) AS ac "
        "FROM deq, q ORDER BY ac DESC, vec_id LIMIT 20) "
        "SELECT vec_id, "
        + _r("list_cosine_similarity(v, qv)")
        + " AS cosine FROM appr, q ORDER BY cosine DESC, vec_id LIMIT 5"
    )

    o["feat_udf_lempel_ziv"] = (
        "WITH RECURSIVE bits AS ("
        "SELECT user_id, string_agg(CASE WHEN value > 50.0 THEN '1' ELSE '0' END, "
        "'' ORDER BY ts) AS b, COUNT(*) AS n FROM events GROUP BY user_id), "
        "lz AS ("
        "SELECT user_id, b, n, 0 AS ind, 1 AS inc, "
        "CAST([] AS VARCHAR[]) AS subs FROM bits "
        "UNION ALL "
        "SELECT user_id, b, n, "
        "CASE WHEN hit THEN ind ELSE ind + inc END, "
        "CASE WHEN hit THEN inc + 1 ELSE 1 END, "
        "CASE WHEN hit THEN subs ELSE list_append(subs, sub) END "
        "FROM (SELECT *, substr(b, ind + 1, inc) AS sub, "
        "list_contains(subs, substr(b, ind + 1, inc)) AS hit "
        "FROM lz WHERE ind + inc <= n)) "
        "SELECT user_id, "
        + _r("len(subs) / CAST(n AS DOUBLE)")
        + " AS lempel_ziv_complexity FROM lz WHERE ind + inc > n "
        "ORDER BY user_id"
    )

    # feat_udf_scalar (r6): the fused 7-kernel pass, value-verified as
    # the JOIN of the five standalone kernel replays above/below — the
    # composite proves the multi-kernel fused UDF computes the same
    # values as each kernel alone. USING(user_id) dedupes the key;
    # every component already rounds via _r and orders (subquery ORDER
    # BY is inert).
    o["feat_udf_scalar"] = (
        "SELECT * FROM (" + o["feat_udf_entropy_pair"] + ") e "
        "JOIN (" + o["feat_udf_lempel_ziv"] + ") l USING (user_id) "
        "JOIN (" + o["feat_udf_adf"] + ") a USING (user_id) "
        "JOIN (" + o["feat_udf_cwt_peaks"] + ") c USING (user_id) "
        "JOIN (" + o["feat_udf_welch"] + ") w USING (user_id) "
        "ORDER BY user_id"
    )

    # dedup_lines / dedup_lines_keepfirst: the Spark side counts lines
    # by xxhash64 of the normalized text (8-byte shuffle key); the
    # oracle groups on the normalized line itself — identical result
    # absent 64-bit collisions. The deterministic augmentation matches
    # __spark_entry__._augment_lines_text verbatim.
    _lines_aug = (
        "aug AS (SELECT doc_id, text || chr(10) || "
        "'common footer line appears everywhere' || "
        "CASE WHEN doc_id % 3 = 0 THEN chr(10) || "
        "'share this page with friends' ELSE '' END || "
        "chr(10) || 'unique trailer ' || CAST(doc_id AS VARCHAR) AS text "
        "FROM documents), "
        "l0 AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM aug), "
        "lpos AS (SELECT doc_id, ls, unnest(range(1, len(ls) + 1)) AS p "
        "FROM l0), "
        "lr AS (SELECT doc_id, CAST(p - 1 AS INT) AS pos, ls[p] AS line, "
        "lower(trim(ls[p])) AS k, length(trim(ls[p])) >= 1 AS elig "
        "FROM lpos), "
        "cnt AS (SELECT k, COUNT(*) AS c FROM lr WHERE elig GROUP BY k), "
    )
    _lines_tail = (
        "SELECT doc_id, "
        "coalesce(string_agg(line, chr(10) ORDER BY pos) "
        "FILTER (WHERE keep), '') AS text, "
        "COUNT(*) AS n_lines, "
        "CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept "
        "FROM kp GROUP BY doc_id ORDER BY doc_id"
    )
    o["dedup_lines"] = (
        "WITH " + _lines_aug +
        "kp AS (SELECT lr.doc_id, lr.pos, lr.line, "
        "(NOT lr.elig) OR coalesce(cnt.c, 0) < 2 AS keep "
        "FROM lr LEFT JOIN cnt USING (k)) " + _lines_tail
    )
    o["dedup_lines_keepfirst"] = (
        "WITH " + _lines_aug +
        "fst AS (SELECT k, doc_id, pos, "
        "row_number() OVER (PARTITION BY k ORDER BY doc_id, pos) AS rn "
        "FROM lr WHERE elig), "
        "kp AS (SELECT lr.doc_id, lr.pos, lr.line, "
        "(NOT lr.elig) OR coalesce(cnt.c, 0) < 2 OR coalesce(f.rn, 0) = 1 "
        "AS keep FROM lr LEFT JOIN cnt USING (k) "
        "LEFT JOIN fst f ON f.k = lr.k AND f.doc_id = lr.doc_id "
        "AND f.pos = lr.pos) " + _lines_tail
    )

    # dedup_spans: word 4-grams counted corpus-wide; tokens covered by
    # any >=2-count gram are scrubbed. Spark counts gram xxhash64s;
    # the oracle counts the gram strings (same absent collisions).
    # n_dup_spans (r10) stitches overlapping covered windows into
    # maximal runs via a lag-over-keep transition count. The keepfirst
    # variant exempts each duplicated gram's corpus-wide first
    # occurrence (row_number over (doc_id, pos) == the Spark
    # min-struct winner) from the removal sites.
    def _spans_sql(keep_first: bool) -> str:
        first_filter = " AND rn > 1" if keep_first else ""
        return (
            "WITH tok AS (SELECT doc_id, "
            r"string_split_regex(text, '\s+') AS ws FROM documents), "
            "gi AS (SELECT doc_id, ws, unnest(range(1, len(ws) - 4 + 2)) AS i "
            "FROM tok WHERE len(ws) >= 4), "
            "gg AS (SELECT doc_id, CAST(i - 1 AS INT) AS pos, "
            "array_to_string(ws[i:i+3], ' ') AS gram FROM gi), "
            "gr AS (SELECT doc_id, pos, gram, "
            "COUNT(*) OVER (PARTITION BY gram) AS c, "
            "row_number() OVER (PARTITION BY gram ORDER BY doc_id, pos) "
            "AS rn FROM gg), "
            f"dup AS (SELECT doc_id, pos FROM gr WHERE c >= 2{first_filter}), "
            "ti AS (SELECT doc_id, ws, unnest(range(1, len(ws) + 1)) AS i "
            "FROM tok), "
            "tk AS (SELECT ti.doc_id, ti.i, ti.ws[ti.i] AS w, "
            "NOT EXISTS (SELECT 1 FROM dup d WHERE d.doc_id = ti.doc_id "
            "AND ti.i - 1 BETWEEN d.pos AND d.pos + 3) AS keep FROM ti), "
            "tks AS (SELECT *, lag(keep) OVER (PARTITION BY doc_id "
            "ORDER BY i) AS pkeep FROM tk) "
            "SELECT doc_id, "
            "coalesce(string_agg(w, ' ' ORDER BY i) FILTER (WHERE keep), '') "
            "AS text, COUNT(*) AS n_tokens, "
            "CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept, "
            "CAST(SUM(CASE WHEN NOT keep AND COALESCE(pkeep, TRUE) "
            "THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans "
            "FROM tks GROUP BY doc_id ORDER BY doc_id"
        )

    o["dedup_spans"] = _spans_sql(False)
    o["dedup_spans_keepfirst"] = _spans_sql(True)

    # text_normalize: the NORMALIZE_RULES regexp chain replayed
    # verbatim (non-ASCII chars re-escaped to RE2 \x{XXXX} so the SQL
    # text stays printable), over the same in-query noisy variant.
    from functime_spark.pipeline.text import NORMALIZE_RULES

    def _re2(pat: str) -> str:
        return "".join(
            c if 32 <= ord(c) < 127 else "\\x{%04X}" % ord(c) for c in pat
        )

    _noisy = (
        "concat(chr(160) || chr(8220) || 'Lorem' || chr(8221) || chr(7) "
        "|| ' ', regexp_replace(text, ' ', chr(8195), 'g'), chr(8230))"
    )
    _expr = _noisy
    for _pat, _rep in NORMALIZE_RULES:
        _expr = (
            f"regexp_replace({_expr}, '{_re2(_pat)}', "
            f"'{_rep.replace(chr(39), chr(39) * 2)}', 'g')"
        )
    o["text_normalize"] = (
        f"WITH n AS (SELECT doc_id, {_noisy} AS t0, {_expr} AS tn "
        "FROM documents) "
        "SELECT doc_id, tn AS text_norm, "
        "CAST(length(t0) - length(tn) AS BIGINT) AS chars_removed "
        "FROM n ORDER BY doc_id"
    )

    # text_c4: C4 line rules via list_filter lambdas over the planted
    # line breaks; COALESCE('') because DuckDB's array_to_string of an
    # empty list is NULL where Spark's array_join is ''.
    o["text_c4"] = (
        "WITH n AS (SELECT doc_id, "
        "regexp_replace(text, ' (slow|fast) ', '.' || chr(10), 'g') || "
        "CASE WHEN doc_id % 7 = 0 THEN chr(10) || 'lorem ipsum dolor.' "
        "WHEN doc_id % 11 = 0 THEN chr(10) || 'var x = {1};' "
        "ELSE '!' END AS text FROM documents), "
        "s AS (SELECT doc_id, text, string_split(text, chr(10)) AS lines, "
        "list_filter(string_split(text, chr(10)), x -> "
        "regexp_matches(x, '[.!?\"'']$') "
        "AND len(list_filter(string_split(x, ' '), w -> w <> '')) >= 5 "
        "AND NOT contains(lower(x), 'javascript') "
        "AND NOT contains(lower(x), 'cookie') "
        "AND NOT contains(lower(x), 'privacy policy')) AS kept FROM n) "
        "SELECT doc_id, CAST(len(lines) AS BIGINT) AS n_lines, "
        "CAST(len(kept) AS BIGINT) AS n_kept_lines, "
        "contains(lower(text), 'lorem ipsum') AS has_lorem, "
        "contains(text, '{') AS has_brace, "
        "(NOT contains(lower(text), 'lorem ipsum')) "
        "AND (NOT contains(text, '{')) AND len(kept) >= 3 AS keep, "
        "COALESCE(array_to_string(kept, chr(10)), '') AS text_clean "
        "FROM s ORDER BY doc_id"
    )

    # embedding_pca: the whole fit_pca power-iteration-with-deflation
    # replayed over LIST-typed vectors — covariance from the id-ordered
    # sample (= all rows at gate SF), fixed v0 = 1/sqrt(d), 8 unrolled
    # iterations per component, rank-1 deflation, then the distributed
    # projection. Every CTE is MATERIALIZED: DuckDB inlines CTEs by
    # default and this chain is self-referential enough that inlining
    # expands exponentially (observed as a too-many-open-files blowup).
    _D, _K, _IT = 64, 4, 8
    _rng = f"range(1, {_D + 1})"
    _pca = [
        "xs AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) "
        "AS e FROM embeddings)",
        "xe AS MATERIALIZED (SELECT vec_id, generate_subscripts(e, 1) AS i, "
        "unnest(e) AS x FROM xs)",
        "mu AS MATERIALIZED (SELECT i, AVG(x) AS m FROM xe GROUP BY i)",
        "muv AS MATERIALIZED (SELECT list(m ORDER BY i) AS MU FROM mu)",
        "cm AS MATERIALIZED (SELECT a.i AS i, b.i AS j, "
        "SUM((a.x - ma.m) * (b.x - mb.m)) / (SELECT COUNT(*) FROM xs) AS c "
        "FROM xe a JOIN xe b ON a.vec_id = b.vec_id "
        "JOIN mu ma ON ma.i = a.i JOIN mu mb ON mb.i = b.i GROUP BY a.i, b.i)",
        "c0 AS MATERIALIZED (SELECT list(cl ORDER BY i) AS C FROM "
        "(SELECT i, list(c ORDER BY j) AS cl FROM cm GROUP BY i) z)",
    ]
    for _c in range(_K):
        _pca.append(
            f"v{_c}_0 AS MATERIALIZED (SELECT list_transform({_rng}, "
            f"i -> 1.0 / sqrt({_D}.0)) AS V)"
        )
        for _t in range(_IT):
            _pca.append(
                f"w{_c}_{_t} AS MATERIALIZED (SELECT list_transform(cc.C, "
                f"row -> list_sum(list_transform({_rng}, i -> row[i] * "
                f"vv.V[i]))) AS W FROM c{_c} cc, v{_c}_{_t} vv)"
            )
            _pca.append(
                f"v{_c}_{_t + 1} AS MATERIALIZED (SELECT list_transform(W, "
                f"x -> x / sqrt(list_sum(list_transform(W, y -> y * y)))) "
                f"AS V FROM w{_c}_{_t})"
            )
        _pca.append(
            f"l{_c} AS MATERIALIZED (SELECT list_sum(list_transform({_rng}, "
            f"i -> vv.V[i] * list_sum(list_transform({_rng}, j -> "
            f"cc.C[i][j] * vv.V[j])))) AS lam FROM c{_c} cc, v{_c}_{_IT} vv)"
        )
        _pca.append(
            f"c{_c + 1} AS MATERIALIZED (SELECT list_transform({_rng}, "
            f"i -> list_transform({_rng}, j -> cc.C[i][j] - ll.lam * "
            f"vv.V[i] * vv.V[j])) AS C FROM c{_c} cc, v{_c}_{_IT} vv, "
            f"l{_c} ll)"
        )
    # +1e-9 matches _round_floats' tie nudge on the Spark side (every
    # other oracle goes through _r): a pc value sitting within 1e-9
    # below a 4th-decimal half boundary must round the same way in
    # both engines
    _proj = ", ".join(
        f"round(list_sum(list_transform({_rng}, i -> (x.e[i] - mu.MU[i]) "
        f"* v{_c}_{_IT}.V[i])) + 1e-9, 4) AS pc{_c + 1}"
        for _c in range(_K)
    )
    o["embedding_pca"] = (
        "WITH "
        + ", ".join(_pca)
        + f" SELECT x.vec_id, {_proj} FROM xs x, muv mu, "
        + ", ".join(f"v{_c}_{_IT}" for _c in range(_K))
        + " ORDER BY x.vec_id"
    )

    # anomaly_zscore: identical trailing-24 frame (point excluded),
    # min-obs warmup and zero-variance guards replayed.
    o["anomaly_zscore"] = (
        "WITH w AS (SELECT user_id, ts, value, "
        "AVG(value) OVER f AS mu, STDDEV_SAMP(value) OVER f AS sd, "
        "COUNT(value) OVER f AS n FROM events WINDOW f AS "
        "(PARTITION BY user_id ORDER BY ts "
        "ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)) "
        "SELECT user_id, ts, " + _r("value") + " AS value, "
        + _r("CASE WHEN n >= 5 AND sd IS NOT NULL AND sd > 0 "
             "THEN (value - mu) / sd END")
        + " AS zscore, "
        "COALESCE(ABS(CASE WHEN n >= 5 AND sd IS NOT NULL AND sd > 0 "
        "THEN (value - mu) / sd END) > 2.5, FALSE) AS is_anomaly "
        "FROM w ORDER BY user_id, ts"
    )

    # dedup_url: the exact canonicalization pipeline (fragment strip,
    # lowercase scheme/host, default-port drop, tracking-param filter,
    # param sort, trailing-slash trim) replayed as list algebra, then
    # keep-lowest-id per canonical URL.
    from functime_spark.pipeline.text import TRACKING_PARAMS

    _tp = ", ".join(f"'{p}'" for p in TRACKING_PARAMS)
    o["dedup_url"] = (
        "WITH d AS (SELECT doc_id, 'HTTPS://WWW.Site' || (doc_id % 7) || "
        "'.COM:443/Dir' || (doc_id % 3) || '/page' || (doc_id % 5) || '/' || "
        "CASE WHEN doc_id % 3 = 0 THEN '?utm_source=x&b=2&a=1' "
        "WHEN doc_id % 3 = 1 THEN '?a=1&b=2&fbclid=q#top' ELSE '' END "
        "AS url FROM documents), "
        "p AS (SELECT doc_id, string_split(url, '#')[1] AS nf FROM d), "
        "q AS (SELECT doc_id, lower(string_split(nf, '://')[1]) AS scheme, "
        "CASE WHEN instr(nf, '://') > 0 THEN substring(nf, instr(nf, '://') + 3) "
        "ELSE nf END AS rest FROM p), "
        "r AS (SELECT doc_id, scheme, string_split(rest, '?')[1] AS hostpath, "
        "CASE WHEN instr(rest, '?') > 0 THEN substring(rest, instr(rest, '?') + 1) "
        "ELSE '' END AS query FROM q), "
        "s AS (SELECT doc_id, scheme, "
        "CASE WHEN scheme = 'http' THEN "
        "regexp_replace(lower(string_split(hostpath, '/')[1]), ':80$', '') "
        "WHEN scheme = 'https' THEN "
        "regexp_replace(lower(string_split(hostpath, '/')[1]), ':443$', '') "
        "ELSE lower(string_split(hostpath, '/')[1]) END AS host, "
        "CASE WHEN instr(hostpath, '/') > 0 THEN regexp_replace('/' || "
        "substring(hostpath, instr(hostpath, '/') + 1), '/$', '') "
        "ELSE '' END AS path, "
        "array_to_string(list_sort(list_filter(string_split(query, '&'), "
        f"kv -> kv <> '' AND NOT list_contains([{_tp}], "
        "string_split(kv, '=')[1]))), '&') AS qs FROM r), "
        "c AS (SELECT doc_id, scheme || '://' || host || path || "
        "CASE WHEN qs <> '' THEN '?' || qs ELSE '' END AS url_canon FROM s), "
        "k AS (SELECT doc_id, url_canon, row_number() OVER "
        "(PARTITION BY url_canon ORDER BY doc_id) AS rn FROM c) "
        "SELECT doc_id, url_canon FROM k WHERE rn = 1 ORDER BY doc_id"
    )

    # corpus_chunks: 32-token chunks, 8-token overlap (stride 24);
    # range() excludes n like the Spark `start < n` filter, list slice
    # clamps the trailing partial chunk the same way.
    o["corpus_chunks"] = (
        "WITH t AS (SELECT doc_id, "
        "list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS ws "
        "FROM documents), "
        "s AS (SELECT doc_id, ws, unnest(range(0, len(ws), 24)) AS st "
        "FROM t WHERE len(ws) > 0) "
        "SELECT doc_id, CAST(st // 24 AS BIGINT) AS chunk_id, "
        "array_to_string(ws[st + 1:st + 32], ' ') AS chunk_text, "
        "CAST(len(ws[st + 1:st + 32]) AS BIGINT) AS n_tokens "
        "FROM s ORDER BY doc_id, chunk_id"
    )

    # text_scripts: same census with RE2 script names; the dominant-
    # script argmax replays as the same strictly-greater when-chain.
    from functime_spark.pipeline.text import SCRIPTS

    _tail = (
        "CASE WHEN doc_id % 5 = 0 THEN ' ' || chr(1046) || chr(1047) || chr(1048) "
        "WHEN doc_id % 5 = 1 THEN ' ' || chr(20013) || chr(25991) "
        "WHEN doc_id % 5 = 2 THEN ' ' || chr(945) || chr(946) || chr(947) || chr(948) "
        "WHEN doc_id % 5 = 3 THEN ' ' || chr(1575) || chr(1604) || chr(1593) "
        "ELSE ' ' || chr(44032) || chr(44033) END"
    )
    _cnt = {
        s: f"CAST(len(regexp_extract_all(text, '\\p{{{s}}}')) AS BIGINT)"
        for s in SCRIPTS
    }
    _dom = "'other'"
    _domn = "CAST(0 AS BIGINT)"
    for s in SCRIPTS:
        _dom = (
            f"CASE WHEN n_{s.lower()} > {_domn} THEN '{s.lower()}' "
            f"ELSE {_dom} END"
        )
        _domn = (
            f"CASE WHEN n_{s.lower()} > {_domn} THEN n_{s.lower()} "
            f"ELSE {_domn} END"
        )
    o["text_scripts"] = (
        "WITH n AS (SELECT doc_id, "
        f"substring(text, 1, CAST(doc_id % 9 AS INT)) || {_tail} AS text "
        "FROM documents), "
        "c AS (SELECT doc_id, "
        + ", ".join(f"{_cnt[s]} AS n_{s.lower()}" for s in SCRIPTS)
        + ", CAST(len(regexp_extract_all(text, '\\S')) AS BIGINT) "
        "AS n_nonspace FROM n) "
        "SELECT doc_id, "
        + ", ".join(f"n_{s.lower()}" for s in SCRIPTS)
        + f", n_nonspace, {_dom} AS dominant_script FROM c ORDER BY doc_id"
    )

    # --- text_strip_html: the HTML_RULES regexp chain over the
    # markup-wrapped variant, replayed rule-for-rule (RE2 inline flags
    # work identically in DuckDB)
    from functime_spark.pipeline.text import HTML_RULES, MOJIBAKE_PATTERNS

    _pre = (
        "<html><head><style>body {color: red}</style>"
        "<script type=''text/javascript''>var x = 1 < 2;</script>"
        '</head><body><!-- nav\nbar --><p class="lead">'
    )
    _suf = (
        "</p>\n<div>Tail &amp; more &lt;tags&gt; &quot;q&quot; "
        "&#39;s&#39;&nbsp;end</div></body></html>"
    )
    _chain = "t0"
    for _pat, _rep in HTML_RULES:
        _p = _pat.replace("'", "''")
        _rp = _rep.replace("'", "''")
        _chain = f"regexp_replace({_chain}, '{_p}', '{_rp}', 'g')"
    o["text_strip_html"] = (
        f"WITH w AS (SELECT doc_id, '{_pre}' || text || '{_suf}' AS t0 "
        "FROM documents), "
        f"r AS (SELECT doc_id, t0, trim({_chain}) AS tc FROM w) "
        "SELECT doc_id, tc AS text_clean, "
        "CAST(length(t0) - length(tc) AS BIGINT) AS markup_chars "
        "FROM r ORDER BY doc_id"
    )

    # --- text_mojibake: literal-replace length-delta counting per
    # double-encoded sequence; verdict compares the UNROUNDED rate
    # like the Spark side
    _tail = (
        " Caf" + MOJIBAKE_PATTERNS[0] + " " + "".join(MOJIBAKE_PATTERNS[8:11])
    ).replace("'", "''")
    _hit_terms = " + ".join(
        "CAST((length(t) - length(replace(t, '"
        + p.replace("'", "''")
        + f"', ''))) / {len(p)} AS BIGINT)"
        for p in MOJIBAKE_PATTERNS
    )
    _rate = "CASE WHEN length(t) > 0 THEN hits * 1000.0 / length(t) ELSE 0.0 END"
    o["text_mojibake"] = (
        "WITH n AS (SELECT doc_id, CASE WHEN doc_id % 3 = 0 THEN "
        f"text || '{_tail}' ELSE text END AS t FROM documents), "
        f"h AS (SELECT doc_id, t, {_hit_terms} AS hits FROM n) "
        "SELECT doc_id, hits AS mojibake_hits, "
        + _r(_rate)
        + " AS hits_per_kchar, "
        f"CAST(({_rate}) > 1.0 AS INT) AS is_mojibake "
        "FROM h ORDER BY doc_id"
    )

    # --- tpch_supplier_features: lineitem-as-panel (daily revenue per
    # supplier) through three fused extractors, replayed as plain
    # aggregates + a lag window
    o["tpch_supplier_features"] = (
        "WITH p AS (SELECT l_suppkey AS supplier, "
        "CAST(date_trunc('day', l_shipdate) AS TIMESTAMP) AS d, "
        "SUM(l_extendedprice) AS y FROM lineitem GROUP BY 1, 2), "
        "lagged AS (SELECT supplier, y, "
        "lag(y) OVER (PARTITION BY supplier ORDER BY d) AS yl FROM p) "
        "SELECT supplier, "
        "ROUND(MAX(ABS(y)) + 1e-9, 4) AS absolute_maximum, "
        "ROUND(SQRT(SUM(y*y) / COUNT(y)) + 1e-9, 4) AS root_mean_square, "
        "ROUND(AVG(ABS(y - yl)) + 1e-9, 4) AS mean_abs_change "
        "FROM lagged GROUP BY supplier ORDER BY supplier"
    )

    # --- tpch_revenue_panel: star join -> monthly nation revenue ->
    # MoM delta; 4-decimal rounding (sums ~1e7, engine summation-order
    # noise ~2e-7 sits inside a 6-decimal boundary)
    o["tpch_revenue_panel"] = (
        "WITH rev AS (SELECT n.n_name AS nation, "
        "CAST(date_trunc('month', l.l_shipdate) AS TIMESTAMP) AS month, "
        "SUM(l.l_extendedprice * (1 - l.l_discount)) AS r "
        "FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey "
        "JOIN customer c ON o.o_custkey = c.c_custkey "
        "JOIN nation n ON c.c_nationkey = n.n_nationkey "
        "GROUP BY 1, 2) "
        "SELECT nation, month, ROUND(r + 1e-9, 4) AS revenue, "
        "ROUND(r - lag(r) OVER (PARTITION BY nation ORDER BY month) "
        "+ 1e-9, 4) AS revenue_mom "
        "FROM rev ORDER BY nation, month"
    )

    # --- text_bpe_tokens: the ENTIRE BPE pipeline replayed — word
    # counts, 12 training iterations (pair-count argmax with the same
    # (count DESC, pair ASC) tie-break, greedy left-to-right merge
    # application via replace), then per-doc subword counts under the
    # learned merges. chr(0) sentinel keeps exhausted iterations no-op.
    _BPE_K = 12
    _bpe_ctes = [
        "w0 AS MATERIALIZED (SELECT word, cnt, "
        r"trim(regexp_replace(word, '(.)', '\1 ', 'g')) AS enc "
        "FROM (SELECT word, COUNT(*) AS cnt FROM "
        "(SELECT unnest(list_filter("
        r"string_split_regex(text, '\s+'), x -> x <> '')) AS word "
        "FROM documents) GROUP BY word ORDER BY cnt DESC, word "
        "LIMIT 50000))",
        "t0 AS MATERIALIZED (SELECT doc_id, "
        r"trim(regexp_replace(word, '(.)', '\1 ', 'g')) AS enc "
        "FROM (SELECT doc_id, unnest(list_filter("
        r"string_split_regex(text, '\s+'), x -> x <> '')) AS word "
        "FROM documents))",
    ]
    for _k in range(_BPE_K):
        _bpe_ctes.append(
            f"p{_k} AS MATERIALIZED (SELECT COALESCE((SELECT pr FROM ("
            "SELECT pr, SUM(cnt) AS c FROM (SELECT cnt, "
            "unnest([l[i] || ' ' || l[i+1] FOR i IN range(1, len(l))]) AS pr "
            f"FROM (SELECT cnt, string_split(enc, ' ') AS l FROM w{_k})) "
            "GROUP BY pr ORDER BY c DESC, pr LIMIT 1)), chr(0)) AS pr)"
        )
        _bpe_ctes.append(
            f"w{_k + 1} AS MATERIALIZED (SELECT word, cnt, replace(enc, "
            f"(SELECT pr FROM p{_k}), "
            f"replace((SELECT pr FROM p{_k}), ' ', '')) AS enc FROM w{_k})"
        )
        _bpe_ctes.append(
            f"t{_k + 1} AS MATERIALIZED (SELECT doc_id, replace(enc, "
            f"(SELECT pr FROM p{_k}), "
            f"replace((SELECT pr FROM p{_k}), ' ', '')) AS enc FROM t{_k})"
        )
    o["text_bpe_tokens"] = (
        "WITH " + ", ".join(_bpe_ctes) + " "
        "SELECT d.doc_id, CAST(COALESCE(s.nw, 0) AS BIGINT) AS n_words, "
        "CAST(COALESCE(s.ns, 0) AS BIGINT) AS n_bpe_tokens "
        "FROM documents d LEFT JOIN (SELECT doc_id, COUNT(*) AS nw, "
        f"SUM(len(string_split(enc, ' '))) AS ns FROM t{_BPE_K} "
        "GROUP BY doc_id) s USING (doc_id) ORDER BY d.doc_id"
    )

    # text_bpe_vocab: the learned merge list itself as a (rank, token,
    # pair) table — each rank is the pair the training argmax picked
    # that round (chr(0) sentinel rows = exhausted iterations, dropped)
    _vocab_rows = " UNION ALL ".join(
        f"SELECT CAST({_k + 1} AS INT) AS rank, "
        f"replace((SELECT pr FROM p{_k}), ' ', '') AS token, "
        f"(SELECT pr FROM p{_k}) AS pair"
        for _k in range(_BPE_K)
    )
    o["text_bpe_vocab"] = (
        "WITH " + ", ".join(_bpe_ctes) + " "
        f"SELECT rank, token, pair FROM ({_vocab_rows}) "
        "WHERE pair <> chr(0) ORDER BY rank"
    )

    # --- text_unigram_vocab (r11): the ENTIRE unigram-LM tokenizer
    # fit replayed — bounded word table, substring seed, smoothed p0,
    # TWO hard-EM rounds (each: unrolled product-space Viterbi DP +
    # recursive backtrack + one count aggregate + re-smooth), the
    # singles-always prune to 32 pieces, and the final re-smooth.
    # Every float is a product/quotient of exact integers evaluated in
    # the same order as fit_unigram's kernel — bit-identical IEEE, no
    # libm log anywhere (see unigram.py module docstring).
    o["text_unigram_vocab"] = (
        "WITH RECURSIVE " + _unigram_replay() + " "
        "SELECT CAST(row_number() OVER (ORDER BY p DESC, tok) AS INT) "
        "AS rank, tok AS token, " + _r("p") + " AS p "
        "FROM upfin ORDER BY rank"
    )

    # text_unigram_tokens: tokenization under the freshly-fitted vocab
    # replayed per doc — a THIRD Viterbi pass with the pruned final
    # probs gives each distinct word's piece count; doc counts are one
    # join + aggregate. NULL/empty text -> (0, 0, NULL) exactly like
    # the engine's mapInPandas branch.
    o["text_unigram_tokens"] = (
        "WITH RECURSIVE " + _unigram_replay() + ", "
        + _unigram_dp_block("t", "upfin", 8, 3) + ", "
        "unp AS (SELECT word, COUNT(*) AS n FROM piecest GROUP BY 1), "
        "udw AS (SELECT doc_id, unnest(list_filter("
        "regexp_split_to_array(text, '\\s+'), x -> x <> '')) AS word "
        "FROM documents), "
        "uagg AS (SELECT d.doc_id, COUNT(*) AS n_words, "
        "SUM(unp.n) AS n_tok FROM udw d "
        "JOIN unp ON unp.word = d.word GROUP BY 1) "
        "SELECT d.doc_id, CAST(COALESCE(uagg.n_words, 0) AS BIGINT) "
        "AS n_words, CAST(COALESCE(uagg.n_tok, 0) AS BIGINT) "
        "AS n_unigram_tokens, "
        + _r("CAST(uagg.n_tok AS DOUBLE) / uagg.n_words")
        + " AS tokens_per_word "
        "FROM documents d LEFT JOIN uagg ON uagg.doc_id = d.doc_id "
        "ORDER BY d.doc_id"
    )

    # --- text_vocab_zipf: top-k vocabulary + log-log OLS Zipf slope,
    # ties broken by token asc; the slope replays as the closed-form
    # covariance ratio over the same k rows
    o["text_vocab_zipf"] = (
        "WITH tk AS (SELECT unnest(list_filter("
        r"string_split_regex(text, '\s+'), x -> x <> '')) AS token "
        "FROM documents), "
        "v AS (SELECT token, COUNT(*) AS cnt FROM tk GROUP BY token), "
        "topk AS (SELECT token, cnt, row_number() OVER "
        "(ORDER BY cnt DESC, token ASC) AS rnk FROM v "
        "QUALIFY rnk <= 100), "
        "fit AS (SELECT (AVG(ln(rnk)*ln(cnt)) - AVG(ln(rnk))*AVG(ln(cnt))) "
        "/ (AVG(ln(rnk)*ln(rnk)) - AVG(ln(rnk))*AVG(ln(rnk))) AS zs FROM topk) "
        'SELECT token, CAST(cnt AS BIGINT) AS "count", '
        "CAST(rnk AS INT) AS rank, "
        + _r("zs")
        + " AS zipf_slope FROM topk, fit ORDER BY rank"
    )

    # --- corpus_clean_attrition: the flagship clean_corpus composite
    # end-to-end — gopher → exact dedup → minhash+connected-components
    # → LM perplexity tier cut, each stage's (docs_in, docs_out)
    # replayed over the PREVIOUS stage's survivors. Reuses the exact
    # per-stage formulas of text_gopher / dedup_exact / dedup_minhash /
    # dedup_cluster / text_quality_tiers above.
    _g_base = (
        "gt AS (SELECT doc_id, text, "
        "list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS tk, "
        "string_split(text, chr(10)) AS lns FROM documents), "
        "gbase AS (SELECT doc_id, len(tk) AS n_words, "
        "list_sum(list_transform(tk, x -> length(x))) / CAST(len(tk) AS DOUBLE) AS mean_word_len, "
        "(length(text) - length(replace(text, '#', '')) "
        " + (length(text) - length(replace(text, '...', ''))) / 3.0) / len(tk) AS symbol_to_word, "
        "len(list_filter(lns, l -> regexp_matches(trim(l), '^[-*•]'))) / CAST(len(lns) AS DOUBLE) AS bullet_line_frac, "
        "len(list_filter(lns, l -> regexp_matches(rtrim(l), '\\.\\.\\.$'))) / CAST(len(lns) AS DOUBLE) AS ellipsis_line_frac, "
        "len(list_filter(tk, x -> regexp_matches(x, '[A-Za-z]'))) / CAST(len(tk) AS DOUBLE) AS alpha_word_frac, "
        "len(list_filter(['the','be','to','of','and','that','have','with'], "
        "s -> list_contains(tk, s))) AS stopword_hits FROM gt), "
        "glr AS (SELECT doc_id, unnest(string_split(text, chr(10))) AS line FROM documents), "
        "gpl AS (SELECT doc_id, line, COUNT(*) AS cnt FROM glr GROUP BY doc_id, line), "
        "grep AS (SELECT doc_id, "
        "SUM(cnt - 1) / CAST(SUM(cnt) AS DOUBLE) AS dup_line_frac, "
        "SUM((cnt - 1) * length(line)) / CAST(SUM(cnt * length(line)) AS DOUBLE) AS dup_line_char_frac "
        "FROM gpl GROUP BY doc_id), "
        # corpus-tuned gopher knobs (min_words=10, min_stopword_hits=0)
        # — mirrors q_corpus_clean_attrition's gopher_params so the
        # downstream stages replay over a LIVE population
        "g_keep AS (SELECT b.doc_id FROM gbase b JOIN grep USING (doc_id) WHERE "
        "b.n_words BETWEEN 10 AND 100000 AND mean_word_len BETWEEN 3.0 AND 10.0 "
        "AND symbol_to_word <= 0.1 AND bullet_line_frac <= 0.9 "
        "AND ellipsis_line_frac <= 0.3 AND alpha_word_frac >= 0.8 "
        "AND stopword_hits >= 0 AND dup_line_frac <= 0.3 "
        "AND dup_line_char_frac <= 0.2)"
    )
    _mh_surv = (
        "e_keep AS (SELECT MIN(d.doc_id) AS doc_id FROM documents d "
        "JOIN g_keep USING (doc_id) GROUP BY d.text), "
        "mw AS (SELECT d.doc_id, string_split(d.text, ' ') AS ws "
        "FROM documents d JOIN e_keep USING (doc_id)), "
        "mg AS (SELECT doc_id, list_distinct([array_to_string(ws[i:i+2], ' ') "
        "FOR i IN range(1, greatest(len(ws)-2, 1)+1)]) AS grams FROM mw), "
        f"ms0 AS (SELECT doc_id, {sig_exprs} FROM mg), "
        f"sig AS (SELECT doc_id, {sig_list} AS sig FROM ms0), "
        f"mband AS (SELECT doc_id, t.band, {_h64(band_payload)} AS band_hash "
        f"FROM sig, (SELECT unnest(range(0, {_BANDS})) AS band) t), "
        "mcap AS (SELECT * FROM (SELECT *, COUNT(*) OVER "
        "(PARTITION BY band, band_hash) AS bsz FROM mband) WHERE bsz <= 512), "
        "mcand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b FROM mcap a "
        "JOIN mcap b ON a.band = b.band AND a.band_hash = b.band_hash "
        "AND a.doc_id < b.doc_id), "
        "mest AS (SELECT id_a, id_b, "
        f"len(list_filter(range(1, {_N_HASH}+1), k -> sa.sig[k] = sb.sig[k])) "
        f"/ {_N_HASH}.0 AS ej "
        "FROM mcand JOIN sig sa ON mcand.id_a = sa.doc_id "
        "JOIN sig sb ON mcand.id_b = sb.doc_id), "
        "mprs AS (SELECT id_a, id_b FROM mest WHERE ej >= 0.3 AND id_a <> id_b), "
        "msym AS (SELECT id_a AS n, id_b AS r FROM mprs "
        "UNION SELECT id_b, id_a FROM mprs), "
        "mreach AS (SELECT n, r FROM msym "
        "UNION SELECT mreach.n, msym.r FROM mreach JOIN msym ON mreach.r = msym.n "
        "WHERE msym.r <> mreach.n), "
        "mcomp AS (SELECT n AS node, least(n, min(r)) AS component "
        "FROM mreach GROUP BY n), "
        "m_keep AS (SELECT doc_id FROM e_keep WHERE doc_id NOT IN "
        "(SELECT node FROM mcomp WHERE node <> component))"
    )
    _tier_surv = (
        "ltok AS (SELECT d.doc_id, "
        r"list_filter(string_split_regex(d.text, '\s+'), x -> x <> '') AS ws "
        "FROM documents d JOIN m_keep USING (doc_id)), "
        "lst AS (SELECT doc_id, ws, unnest(range(1, len(ws) + 1)) AS i FROM ltok), "
        "ls AS (SELECT doc_id, CASE WHEN i > 1 THEN ws[CAST(i - 1 AS BIGINT)] END "
        "AS w1, ws[CAST(i AS BIGINT)] AS w2 FROM lst), "
        "luni AS (SELECT w2 AS w, COUNT(*) AS c FROM ls GROUP BY w2), "
        "lbi AS (SELECT w1, w2, COUNT(*) AS c FROM ls WHERE w1 IS NOT NULL "
        "GROUP BY w1, w2), "
        "ltot AS (SELECT CAST(SUM(c) AS DOUBLE) AS n, "
        "CAST(COUNT(*) AS DOUBLE) AS v FROM luni), "
        "lsc AS (SELECT ls.doc_id, CASE WHEN ls.w1 IS NULL THEN "
        "ln((u2.c + 0.5) / (ltot.n + 0.5 * ltot.v)) ELSE "
        f"ln(0.7 * COALESCE(b.c / u1.c, 0) + {_oml} * "
        "(u2.c + 0.5) / (ltot.n + 0.5 * ltot.v)) END AS lp "
        "FROM ls JOIN luni u2 ON u2.w = ls.w2 "
        "LEFT JOIN luni u1 ON u1.w = ls.w1 "
        "LEFT JOIN lbi b ON b.w1 = ls.w1 AND b.w2 = ls.w2 CROSS JOIN ltot), "
        "lpd AS (SELECT doc_id, -AVG(lp) AS ce FROM lsc GROUP BY doc_id), "
        "lce AS (SELECT m.doc_id, round(COALESCE(lpd.ce, 0) + 1e-9, 6) AS ce "
        "FROM m_keep m LEFT JOIN lpd USING (doc_id)), "
        "lcuts AS (SELECT quantile_cont(ce, 0.25) AS q1, "
        "quantile_cont(ce, 0.5) AS q2, quantile_cont(ce, 0.75) AS q3 FROM lce), "
        "t_keep AS (SELECT doc_id FROM lce, lcuts WHERE "
        "CAST(ce > q1 AS INT) + CAST(ce > q2 AS INT) + "
        "CAST(ce > q3 AS INT) <= 2)"
    )
    o["corpus_clean_attrition"] = (
        f"WITH RECURSIVE {_g_base}, {_mh_surv}, {_tier_surv} "
        "SELECT * FROM ("
        "SELECT 'gopher' AS stage, "
        "(SELECT COUNT(*) FROM documents) AS docs_in, "
        "(SELECT COUNT(*) FROM g_keep) AS docs_out "
        "UNION ALL SELECT 'exact_dedup', "
        "(SELECT COUNT(*) FROM g_keep), (SELECT COUNT(*) FROM e_keep) "
        "UNION ALL SELECT 'minhash_dedup', "
        "(SELECT COUNT(*) FROM e_keep), (SELECT COUNT(*) FROM m_keep) "
        "UNION ALL SELECT 'perplexity_tier', "
        "(SELECT COUNT(*) FROM m_keep), (SELECT COUNT(*) FROM t_keep)"
        ") ORDER BY stage"
    )

    # --- scaletools: skew diagnosis / salted-join identity / distinct
    # cardinality. The salted-join oracle deliberately replays the
    # PLAIN join — equality proves the salting is semantics-neutral.
    o["scale_skew_report"] = (
        "WITH c AS (SELECT user_id, COUNT(*) AS cnt "
        "FROM events GROUP BY user_id) "
        "SELECT CAST(COUNT(*) AS BIGINT) AS n_keys, "
        "CAST(SUM(cnt) AS BIGINT) AS total_rows, "
        "CAST(MAX(cnt) AS BIGINT) AS max_count, "
        + _r("AVG(cnt)")
        + " AS mean_count, "
        + _r("quantile_cont(cnt, 0.5)")
        + " AS p50_count, "
        + _r("quantile_cont(cnt, 0.9)")
        + " AS p90_count, "
        + _r("quantile_cont(cnt, 0.99)")
        + " AS p99_count, "
        + _r("CAST(MAX(cnt) AS DOUBLE) / AVG(cnt)")
        + " AS skew_ratio FROM c"
    )
    o["scale_heavy_hitters"] = (
        "SELECT user_id, CAST(COUNT(*) AS BIGINT) AS cnt "
        "FROM events GROUP BY user_id "
        "ORDER BY cnt DESC, user_id LIMIT 10"
    )
    o["scale_salted_join"] = (
        "SELECT c.c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_events, "
        "ROUND(SUM(e.value) + 1e-9, 4) AS total_value "
        "FROM events e JOIN customer c ON e.user_id = c.c_custkey "
        "GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment"
    )
    o["scale_cardinality"] = (
        "SELECT source, CAST(COUNT(*) AS BIGINT) AS n_rows, "
        "CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_lang, "
        "CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_doc_id "
        "FROM documents GROUP BY source ORDER BY source"
    )

    # --- dedup_priority: per distinct text keep the best-(rank, id)
    # copy — rank replayed with a CASE mirroring the priority list
    o["dedup_priority"] = (
        "WITH t AS (SELECT doc_id, source, md5(text) AS k, "
        "CASE WHEN source = 'src3' THEN 1 WHEN source = 'src1' THEN 2 "
        "ELSE 3 END AS r FROM documents) "
        "SELECT doc_id, source, n_copies FROM ("
        "SELECT doc_id, source, "
        "CAST(COUNT(*) OVER (PARTITION BY k) AS BIGINT) AS n_copies, "
        "ROW_NUMBER() OVER (PARTITION BY k ORDER BY r, doc_id) AS rn "
        "FROM t) z WHERE rn = 1 ORDER BY doc_id"
    )

    # --- text_ngram_diversity: the cross-doc gram stream rebuilt per
    # n via range-unnest slices, then COUNT / COUNT(DISTINCT) per
    # (lang, n)
    _div_gram = (
        "SELECT lang, {n} AS n, "
        "array_to_string(list_slice(ws, i, i + {n} - 1), ' ') AS gram "
        "FROM (SELECT lang, ws, "
        "unnest(range(1, greatest(len(ws) - {n} + 2, 1))) AS i FROM w)"
    )
    o["text_ngram_diversity"] = (
        r"WITH w AS (SELECT lang, list_filter(string_split_regex(text, '\s+'), "
        "x -> x <> '') AS ws FROM documents), "
        "g AS ("
        + " UNION ALL ".join(_div_gram.format(n=n) for n in (1, 2, 3))
        + ") SELECT lang, CAST(n AS INT) AS n, "
        "CAST(COUNT(*) AS BIGINT) AS total_ngrams, "
        "CAST(COUNT(DISTINCT gram) AS BIGINT) AS distinct_ngrams, "
        + _r("CAST(COUNT(DISTINCT gram) AS DOUBLE) / COUNT(*)")
        + " AS diversity FROM g GROUP BY lang, n ORDER BY lang, n"
    )

    # --- events_json_props: typed JSON payload extraction rollup
    o["events_json_props"] = (
        "WITH t AS (SELECT event_type, "
        "CAST(json_extract(props, '$.k') AS INT) AS k FROM events) "
        "SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events, "
        "CAST(SUM(k) AS BIGINT) AS sum_k, "
        + _r("AVG(k)")
        + " AS avg_k, CAST(MAX(k) AS INT) AS max_k "
        "FROM t GROUP BY event_type ORDER BY event_type"
    )

    # --- cluster_balanced_sample: the replayed 8x5 k-means build
    # (c5 from the shared _ivf chain) -> nearest-centroid cluster ->
    # md5-ranked cap of 20 per cluster
    o["cluster_balanced_sample"] = (
        "WITH "
        + ", ".join(_ivf)
        + ", asn AS (SELECT vec_id, "
        "CAST(list_position(dd, list_min(dd)) - 1 AS INT) AS cluster FROM "
        "(SELECT e.vec_id, "
        f"list_transform(c.C, cc -> "
        f"{_ivf_d2('CAST(e.embedding AS DOUBLE[])', 'cc')}) AS dd "
        "FROM embeddings e, c5 c) z) "
        "SELECT vec_id, cluster FROM ("
        "SELECT vec_id, cluster, ROW_NUMBER() OVER (PARTITION BY cluster "
        "ORDER BY ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT, "
        "vec_id) AS rn FROM asn) z WHERE rn <= 20 ORDER BY vec_id"
    )

    return o
