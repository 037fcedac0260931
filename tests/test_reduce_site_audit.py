"""Regression guards for ``tools/reduce_site_audit.py``, the sweep
that enumerates every reduce site (sum/avg/mean) a query key executes
and flags the fractional ones that need a manual engine-portability
read.
"""

from __future__ import annotations


def test_reduce_site_audit_traces_aliases_and_variables(capsys):
    """The sweep enumerator must keep finding the indirections the
    manual audits relied on: a quantized local variable (term6 :=
    quant6 in text_quality_psi), a count-defined alias (o := F.count
    in the chi-square cells), and a withColumn-defined column (dwell
    := F.lead diff in the dwell profile). A tracing regression would
    blind the round-16+ window sweeps."""
    import sys as _sys

    _sys.path.insert(
        0, str(__import__("pathlib").Path(__file__).parents[1] / "tools")
    )
    import reduce_site_audit as rsa

    n = rsa.audit(
        [
            "text_quality_psi",
            "agg_chi_square_independence",
            "events_dwell_time_profile",
        ]
    )
    out = capsys.readouterr().out
    assert "term6 = quant6" in out.replace("term6 = term6 = ", "term6 = ")
    assert 'F.count(F.lit(1)).alias("o")' in out
    assert 'withColumn("dwell", F.lead("us").over(w) - F.col("us"))' in out
    # all three keys have sites needing the read (by design: only
    # certain patterns auto-verdict)
    assert n == 3


def test_reduce_site_audit_expr_agg_tests_inner_argument(capsys, monkeypatch):
    """ADVICE r15: for aggregates hidden inside an F.expr string the
    _CERTAIN auto-exemption must be tested against the INNER
    sum/avg/mean call's own argument — a quant6( appearing elsewhere
    in the same string must not exempt a fractional sum next to it
    (the exact silent-pass the tool's docstring warns about)."""
    import sys as _sys

    _sys.path.insert(
        0, str(__import__("pathlib").Path(__file__).parents[1] / "tools")
    )
    import reduce_site_audit as rsa

    def fake_expr_key(spark, sf_dir):  # never executed; source-only
        df = spark.read.parquet(sf_dir)
        return df.select(
            F.expr("sum(price * ratio) + sum(quant6(price)) as s")  # noqa: F821
        )

    monkeypatch.setattr(rsa, "all_queries", lambda: {"fake": fake_expr_key})
    n = rsa.audit(["fake"])
    out = capsys.readouterr().out
    # two inner sites: the fractional sum prints as READ with ITS OWN
    # argument; the quantized sum auto-exempts
    assert n == 1
    assert "1 READ site(s), 1 certain-exempt" in out
    assert "price * ratio" in out
    assert "quant6(price)" not in out.split("L")[-1].splitlines()[0]


def test_reduce_site_audit_flag_without_value_exits_with_usage(monkeypatch, capsys):
    """ADVICE r15: `--keys` / `--window` as the final argument must
    exit with a usage message, not an IndexError."""
    import sys as _sys

    _sys.path.insert(
        0, str(__import__("pathlib").Path(__file__).parents[1] / "tools")
    )
    import reduce_site_audit as rsa
    import pytest

    for argv in (["prog", "--keys"], ["prog", "--window"]):
        monkeypatch.setattr(_sys, "argv", argv)
        with pytest.raises(SystemExit) as e:
            rsa.main()
        assert e.value.code == 2
        assert "usage:" in capsys.readouterr().out


def test_reduce_site_audit_bad_flag_values_exit_with_usage(monkeypatch, capsys):
    """ADVICE r16: a non-integer `--window abc` / `--window=abc` must
    land on the same usage/exit-2 path as a missing value (not an
    uncaught ValueError traceback), and `--keys` followed by another
    flag must be treated as a missing value, not consumed as keys."""
    import sys as _sys

    _sys.path.insert(
        0, str(__import__("pathlib").Path(__file__).parents[1] / "tools")
    )
    import reduce_site_audit as rsa
    import pytest

    for argv in (
        ["prog", "--window", "abc"],
        ["prog", "--window=abc"],
        ["prog", "--keys", "--quiet"],
    ):
        monkeypatch.setattr(_sys, "argv", argv)
        with pytest.raises(SystemExit) as e:
            rsa.main()
        assert e.value.code == 2, argv
        assert "usage:" in capsys.readouterr().out, argv


def test_reduce_site_audit_balances_parens_across_string_literals():
    """ADVICE r16: an unbalanced paren inside a quoted literal (regexp
    patterns in F.expr bodies are the real-world case) must not
    truncate or overrun the extracted argument."""
    import sys as _sys

    _sys.path.insert(
        0, str(__import__("pathlib").Path(__file__).parents[1] / "tools")
    )
    import reduce_site_audit as rsa

    src = 'F.sum(F.regexp_count("text", r"\\)([a-z]") + F.col("x"))'
    arg = rsa._balanced_arg(src, src.index("("))
    assert arg == 'F.regexp_count("text", r"\\)([a-z]") + F.col("x")'
    # escaped quote inside the literal doesn't end the string early
    src2 = "F.sum(F.lit('don\\'t (') + F.col(\"y\"))"
    assert rsa._balanced_arg(src2, src2.index("(")) == (
        "F.lit('don\\'t (') + F.col(\"y\")"
    )


def test_reduce_site_audit_skips_comment_spans():
    """Self-review r17: an apostrophe in a trailing comment inside a
    reduce-call argument span must not open a phantom string (the
    ADVICE r16 quote-skipping introduced this hole)."""
    import sys as _sys

    _sys.path.insert(
        0, str(__import__("pathlib").Path(__file__).parents[1] / "tools")
    )
    import reduce_site_audit as rsa

    src = "F.sum(\n    q_c  # don't double-count\n    + F.col(\"x\")\n)"
    arg = rsa._balanced_arg(src, src.index("("))
    assert arg == "\n    q_c  # don't double-count\n    + F.col(\"x\")\n"
    # a comment holding an unbalanced paren is equally inert
    src2 = 'F.sum(a  # see foo(bar\n      + b)'
    assert rsa._balanced_arg(src2, src2.index("(")) == (
        "a  # see foo(bar\n      + b"
    )
