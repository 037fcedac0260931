#!/usr/bin/env python
"""Alias-tracing reduce-site ENUMERATOR for the registry's
fractional-sum audit (mechanizes the transcription half of the sweep
rounds 13-15 ran by hand; the CLASSIFICATION half stays a human read
on purpose — a heuristic that silently passes a fractional sum is
worse than no tool).

For every selected registry key the tool:

1. finds each aggregation reduce site — ``F.sum`` / ``F.avg`` /
   ``F.mean`` (argument extracted with balanced parens across
   lines), SQL aggregates hidden inside ``F.expr``, and
   ``F.aggregate`` array folds;
2. traces every quoted column name inside the argument back to its
   ``.alias("...")`` definition in the same function source and
   prints that definition inline (the round-13 lesson:
   ``events_time_to_convert``'s fractional mean hid behind an
   innocently-named alias the inline-only pass missed);
3. auto-verdicts ONLY the certain patterns — ``F.count``,
   ``(cond).cast("long")`` / ``when(..., 1).otherwise(0)`` flags
   directly in the argument, and ``quant6(``/``quantn(`` calls —
   everything else prints as READ with its traced context.

The audit discipline the round records document still applies: READ
sites need the human classification (integer schema column / cents /
pre-quantized long / canonical fold / IN-CLASS fractional sum), and
``F.aggregate`` folds are exempt only when the oracle mirrors the
fold order.

Usage::

    python tools/reduce_site_audit.py                  # first 50 keys
    python tools/reduce_site_audit.py --window 100
    python tools/reduce_site_audit.py --keys a,b,c
    python tools/reduce_site_audit.py --all            # whole registry
    python tools/reduce_site_audit.py --quiet          # summary only

Exit code is the number of keys with at least one READ site (so a
wrapper can tell "nothing to look at" from "go read").
"""

from __future__ import annotations

import inspect
import re
import sys

sys.path.insert(0, __file__.rsplit("/", 2)[0])


def all_queries():
    """Lazy registry import so CLI flag validation (and ``--help``
    style usage errors) never waits on the ~296-key module load."""
    from parquet_stream_writer_spark.operators import all_queries as _aq

    return _aq()

_REDUCE = re.compile(r"F\.(sum|avg|mean)\s*\(|\bint_(mean|sum)\s*\(")
_EXPR_CALL = re.compile(r"F\.expr\s*\(")
# aggregates hidden inside an F.expr string literal; \b keeps
# e.g. ``checksum(`` from matching
_SQL_AGG = re.compile(r"\b(sum|avg|mean)\s*\(", re.I)
_FOLD = re.compile(r"\bF\.aggregate\s*\(")
_NAME = re.compile(r'["\'](\w+)["\']')
_CERTAIN = re.compile(
    r"""F\.count\(
      | F\.when\([^)]*,\s*1\s*\)\s*\.otherwise\(\s*0\s*\)
      | \.cast\(["']long["']\)\s*\)?\s*$
      | \bquant6\(
      | \bquantn\(
    """,
    re.X,
)


def _balanced_arg(text: str, open_idx: int) -> str:
    """The argument list of the call whose '(' sits at ``open_idx``.

    Parens inside quoted string literals are skipped while balancing
    (ADVICE r16: an F.expr body holding an unbalanced paren in a regexp
    pattern used to misextract the argument and could misplace inner
    aggregate sites), and ``#``-to-newline comment spans are skipped
    when not inside a quote (self-review r17: an apostrophe in a
    trailing comment — ``# don't double-count`` — would otherwise open
    a phantom string and swallow the closing parens).  Escapes are
    honoured; triple quotes degrade to open/close pairs, which is fine
    for this deliberately heuristic enumerator — the classification
    half stays a human read."""
    depth, i, quote = 0, open_idx, None
    while i < len(text):
        ch = text[i]
        if quote is not None:
            if ch == "\\":
                i += 2
                continue
            if ch == quote:
                quote = None
        elif ch == "#":
            nl = text.find("\n", i)
            if nl == -1:
                break
            i = nl
        elif ch in "\"'":
            quote = ch
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth == 0:
                return text[open_idx + 1 : i]
        i += 1
    return text[open_idx + 1 : open_idx + 200]


def _trace(src_lines: list[str], name: str) -> str | None:
    for i, ln in enumerate(src_lines):
        if (
            f'.alias("{name}")' in ln
            or f".alias('{name}')" in ln
            or f'withColumn("{name}"' in ln
        ):
            start = max(0, i - 4)
            # withColumn expressions extend FORWARD from the call
            end = i + (3 if f'withColumn("{name}"' in ln else 1)
            return " ".join(l.strip() for l in src_lines[start:end])[-200:]
    return None


def _trace_var(src_lines: list[str], name: str) -> str | None:
    """Definition of a local VARIABLE used inside a reduce argument
    (e.g. ``term6 = quant6(...)``) — aliases cover columns, this
    covers the python-side expression names."""
    pat = re.compile(rf"^\s*{re.escape(name)}\s*=")
    for i, ln in enumerate(src_lines):
        if pat.match(ln):
            return " ".join(l.strip() for l in src_lines[i : i + 4])[:200]
    return None


def audit(keys: list[str], quiet: bool = False) -> int:
    qs = all_queries()
    keys_with_reads = 0
    total_sites = total_certain = 0
    for k in keys:
        src = inspect.getsource(qs[k])
        lines = src.splitlines()
        flat = "\n".join(lines)
        reads, certains, folds = [], 0, []
        seen_spans = set()
        # (match start, open-paren index of the call whose ARGUMENT is
        # the reduce expression).  For F.expr the tested argument must
        # be the INNER sum/avg/mean call inside the string literal, not
        # the whole expr string — a quant6(/cast('long') elsewhere in
        # the same string would otherwise auto-exempt a fractional sum
        # (ADVICE r15).  Every inner aggregate in the string gets its
        # own site.
        sites = [flat.index("(", m.start()) for m in _REDUCE.finditer(flat)]
        for m in _EXPR_CALL.finditer(flat):
            expr_open = flat.index("(", m.start())
            body = _balanced_arg(flat, expr_open)
            for sm in _SQL_AGG.finditer(body):
                sites.append(expr_open + 1 + sm.end() - 1)
        for open_idx in sites:
            if open_idx in seen_spans:
                continue
            seen_spans.add(open_idx)
            arg = " ".join(_balanced_arg(flat, open_idx).split())
            total_sites += 1
            # functions.int_mean / int_sum quantize INSIDE the helper,
            # so the call itself is the certainty (self-review r17 —
            # the hand-expanded floor/sum/count sites they replaced
            # used to auto-exempt via the quantn( in their argument).
            j = open_idx
            while j > 0 and (flat[j - 1].isalnum() or flat[j - 1] in "._"):
                j -= 1
            callee = flat[j:open_idx].strip()
            if callee.endswith("int_mean") or callee.endswith("int_sum"):
                certains += 1
                total_certain += 1
                continue
            if _CERTAIN.search(arg):
                certains += 1
                total_certain += 1
                continue
            traces = []
            for nm in dict.fromkeys(_NAME.findall(arg)):
                t = _trace(lines, nm)
                if t:
                    traces.append(f"{nm} := {t}")
            for nm in dict.fromkeys(re.findall(r"\b([a-z]\w*)\b", arg)):
                if nm in ("F", "col", "lit", "when", "otherwise", "cast"):
                    continue
                t = _trace_var(lines, nm)
                if t:
                    traces.append(f"{nm} = {t}")
            lineno = flat[:open_idx].count("\n")
            reads.append((lineno, arg[:160], traces))
        for i, ln in enumerate(lines):
            if _FOLD.search(ln):
                folds.append(i)
        if reads:
            keys_with_reads += 1
            if not quiet:
                print(f"== {k}: {len(reads)} READ site(s), "
                      f"{certains} certain-exempt, {len(folds)} fold(s)")
                for lineno, arg, traces in reads:
                    print(f"   L{lineno}: {arg}")
                    for t in traces:
                        print(f"        ↳ {t}")
        elif folds and not quiet:
            print(f"-- {k}: fold-only at lines {folds} "
                  f"(verify the oracle mirrors the fold)")
    print(
        f"[reduce-site-audit] {len(keys)} keys; {total_sites} reduce "
        f"sites; {total_certain} certain-exempt; "
        f"{keys_with_reads} key(s) need the human read"
    )
    return keys_with_reads


def main() -> None:
    # Flag validation runs BEFORE the registry import below, so a
    # malformed invocation errors instantly instead of after the
    # ~296-key module load (self-review r16).
    args = sys.argv[1:]
    quiet = "--quiet" in args
    raw: str | None = None
    n = 50
    for j, a in enumerate(args):
        # Exact-or-`=` match, mirroring --window: a bare startswith
        # would silently accept an unknown flag like --keysfoo=x as
        # --keys (ADVICE r17).
        if a == "--keys" or a.startswith("--keys="):
            if "=" in a:
                raw = a.split("=", 1)[1]
            elif j + 1 < len(args) and not args[j + 1].startswith("--"):
                raw = args[j + 1]
            else:
                # A following flag (e.g. `--keys --quiet`) is a missing
                # value, not a key list (ADVICE r16).
                print("usage: --keys a,b,c (or --keys=a,b,c)")
                raise SystemExit(2)
        elif a == "--window" or a.startswith("--window="):
            val = a.split("=", 1)[1] if "=" in a else (
                args[j + 1] if j + 1 < len(args) else None
            )
            try:
                n = int(val)  # type: ignore[arg-type]
            except (TypeError, ValueError):
                # Missing AND non-integer values both land on the same
                # usage/exit-2 path (ADVICE r16: `--window abc` used to
                # escape as an uncaught ValueError traceback).
                print("usage: --window N (or --window=N)")
                raise SystemExit(2)
        elif a.startswith("--") and a not in ("--quiet", "--all"):
            # Anything else dash-prefixed is a typo (e.g. --keysfoo=x),
            # not a silently-ignored no-op (ADVICE r17).
            print(f"unknown flag: {a}")
            raise SystemExit(2)
    qs = all_queries()
    if "--all" in args:
        keys = list(qs)
    elif raw is not None:
        keys = [k for k in raw.split(",") if k]
        unknown = [k for k in keys if k not in qs]
        if unknown:
            print(f"unknown keys: {unknown}")
            raise SystemExit(2)
    else:
        keys = list(qs)[:n]
    raise SystemExit(audit(keys, quiet=quiet))


if __name__ == "__main__":
    main()
