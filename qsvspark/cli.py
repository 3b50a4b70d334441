"""CLI front end mirroring the reference's command grammar:

    python -m qsvspark <init> <args> - <chainable> <args> ... - <finalizer>

Reference parser: /root/reference/src/controllers/command.rs:127-272 —
commands are split on standalone ``-`` tokens; each command has a
whitelist of options (:19-113, validated :115-126); short options fuse
values (``-sVal`` / ``-s=Val``, :206-262); a chain with no finalizer gets
an implicit ``showtable`` (main.rs:91-110). ``--batch-size`` accepts
B/KB/MB/GB and clamps to 1MB-10GB (command.rs:721-778); ``show`` and
``dump`` turn it into a row count (estimate_batch_rows) and stream the
result through the driver in toLocalIterator slices of that size. The
plan runs once, not once per batch as in the reference (SURVEY.md §4.2).

This is a thin dispatcher: every operator is the same qsvspark.ops /
io implementation the fluent API uses — one IR, like the reference.
"""

from __future__ import annotations

import re
import sys
from dataclasses import dataclass, field

from qsvspark.errors import InvalidArgumentError, QsvError


@dataclass
class Command:
    name: str
    args: list[str] = field(default_factory=list)
    options: dict[str, str | bool] = field(default_factory=dict)


# option name -> takes a value? (reference command.rs:156-192)
_OPT_TAKES_VALUE = {
    "-s": True, "--separator": True, "--chunk-size": True,
    "--low-memory": False, "--no-headers": False,
    "-i": False, "--ignorecase": False, "-v": False, "--invert": False,
    "-d": False, "--desc": False, "-p": False, "--plain": False,
    "--column": True, "--rows": True, "--cols": True, "--values": True,
    "--agg": True, "--interval": True, "--sum": True, "--avg": True,
    "--min": True, "--max": True, "--std": True,
    "--start": True, "--end": True, "--unit": True, "--output": True,
    "--from-tz": True, "--to-tz": True, "--input-format": True,
    "--output-format": True, "--ambiguous": True,
    "--from": True, "--to": True,
    "-o": True, "--batch-size": True,
}

# per-command allowed options (reference command.rs:19-113)
_VALID_OPTS = {
    "load": {"-s", "--separator", "--low-memory", "--no-headers", "--chunk-size"},
    "select": set(),
    "renamecol": set(),
    "isin": set(),
    "contains": {"-i", "--ignorecase"},
    "grep": {"-i", "--ignorecase", "-v", "--invert"},
    "sed": {"-i", "--ignorecase", "--column"},
    "sort": {"-d", "--desc"},
    "head": set(),
    "tail": set(),
    "uniq": set(),
    "count": set(),
    "pivot": {"--rows", "--cols", "--values", "--agg"},
    "timeline": {"--interval", "--sum", "--avg", "--min", "--max", "--std"},
    "timeslice": {"--start", "--end"},
    "timeround": {"--unit", "--output"},
    "changetz": {"--from-tz", "--to-tz", "--input-format", "--output-format", "--ambiguous"},
    "convert": {"--from", "--to"},
    "show": {"--batch-size"},
    "showtable": set(),
    "headers": {"-p", "--plain"},
    "stats": set(),
    "showquery": set(),
    "dump": {"-o", "-s", "--separator", "--batch-size"},
    "dumpcache": {"-o"},
    "partition": set(),
    "quilt": {"-o"},
}

_FINALIZERS = {
    "show", "showtable", "headers", "stats", "showquery",
    "dump", "dumpcache", "partition",
}

_SIZE_RE = re.compile(r"^(\d+(?:\.\d+)?)\s*(B|KB|MB|GB)?$", re.IGNORECASE)


def parse_batch_size(text: str) -> int:
    """B/KB/MB/GB suffix, clamped to [1MB, 10GB] (command.rs:721-778)."""
    m = _SIZE_RE.match(text.strip())
    if not m:
        raise InvalidArgumentError(f"invalid batch size '{text}'")
    mult = {"B": 1, "KB": 1024, "MB": 1024**2, "GB": 1024**3}[
        (m.group(2) or "B").upper()
    ]
    n = int(float(m.group(1)) * mult)
    return max(1024**2, min(n, 10 * 1024**3))


def parse_commands(argv: list[str]) -> list[Command]:
    """Split argv into Commands on standalone ``-`` separators."""
    cmds: list[Command] = []
    cur: Command | None = None
    i = 0
    while i < len(argv):
        tok = argv[i]
        if tok == "-":
            cur = None
            i += 1
            continue
        if cur is None:
            cur = Command(tok)
            cmds.append(cur)
            i += 1
            continue
        if tok.startswith("--"):
            name, eq, val = tok.partition("=")
            if _OPT_TAKES_VALUE.get(name, False):
                if eq:
                    cur.options[name] = val
                else:
                    if i + 1 >= len(argv):
                        raise InvalidArgumentError(f"option {name} needs a value")
                    cur.options[name] = argv[i + 1]
                    i += 1
            else:
                cur.options[name] = True
            i += 1
            continue
        if tok.startswith("-") and len(tok) > 1 and tok[1].isalpha():
            name = tok[:2]
            rest = tok[2:]
            if _OPT_TAKES_VALUE.get(name, False):
                if rest.startswith("="):
                    cur.options[name] = rest[1:]
                elif rest:
                    cur.options[name] = rest  # -sVal fusion
                else:
                    if i + 1 >= len(argv):
                        raise InvalidArgumentError(f"option {name} needs a value")
                    cur.options[name] = argv[i + 1]
                    i += 1
            else:
                cur.options[name] = True
            i += 1
            continue
        cur.args.append(tok)
        i += 1
    return cmds


# required positional arity (mirrors each reference usage line, e.g.
# "Usage: changetz <colname> --from-tz ..." command.rs:509) — a short
# chain like `load f.csv - select` must produce "Error: ...", exit 1,
# not a bare IndexError traceback
_MIN_ARGS = {
    "load": 1, "select": 1, "renamecol": 2, "isin": 1, "contains": 2,
    "grep": 1, "sed": 2, "sort": 1, "timeline": 1, "timeslice": 1,
    "timeround": 1, "changetz": 1, "convert": 1, "partition": 1, "quilt": 1,
}

_REQUIRED_OPTS = {
    "pivot": ("--rows", "--cols", "--values"),
    "timeround": ("--unit",),
    "convert": ("--from", "--to"),
    "changetz": ("--from-tz", "--to-tz"),
}


def validate(cmds: list[Command]) -> None:
    for idx, c in enumerate(cmds):
        if c.name not in _VALID_OPTS:
            raise InvalidArgumentError(f"unknown command '{c.name}'")
        bad = set(c.options) - _VALID_OPTS[c.name]
        if bad:
            raise InvalidArgumentError(
                f"invalid option(s) {sorted(bad)} for command '{c.name}'"
            )
        need = _MIN_ARGS.get(c.name, 0)
        if len(c.args) < need:
            raise InvalidArgumentError(
                f"'{c.name}' requires at least {need} argument(s), got {len(c.args)}"
            )
        missing = [o for o in _REQUIRED_OPTS.get(c.name, ()) if o not in c.options]
        if missing:
            raise InvalidArgumentError(
                f"'{c.name}' requires option(s) {missing}"
            )
        # reference grammar: a finalizer terminates the chain — commands
        # after one are a usage error, not silently chained
        if c.name in _FINALIZERS and idx != len(cmds) - 1:
            raise InvalidArgumentError(
                f"finalizer '{c.name}' must be the last command in the chain"
            )


def _opt(c: Command, *names: str, default=None):
    for n in names:
        if n in c.options:
            return c.options[n]
    return default


def _values_list(text: str) -> list[str]:
    return [v for v in text.split(",")]


def execute(cmds: list[Command], spark=None, out=None) -> None:
    """Run a parsed chain. Builds the lazy plan through Q, finalizes once."""
    from qsvspark.engine import Q
    from qsvspark.session import get_spark

    out = out or sys.stdout
    validate(cmds)
    if not cmds:
        raise InvalidArgumentError("no commands given")
    spark = spark or get_spark("qsvspark-cli")

    if cmds[0].name == "quilt":
        from qsvspark.pipeline.quilt import Quilt

        if not cmds[0].args:
            raise InvalidArgumentError("quilt requires a YAML config path")
        result = Quilt(spark).run_file(cmds[0].args[0], _opt(cmds[0], "-o"))
        if result is not None:
            from qsvspark.io.sinks import showtable

            showtable(result, file=out)
        return

    if cmds[0].name != "load":
        raise InvalidArgumentError("chain must start with 'load' (or 'quilt')")

    # implicit showtable when no finalizer ends the chain (main.rs:91-110)
    if cmds[-1].name not in _FINALIZERS:
        cmds = cmds + [Command("showtable")]

    c0 = cmds[0]
    q = Q.load(
        spark,
        c0.args,
        separator=_opt(c0, "-s", "--separator"),
        no_headers=bool(_opt(c0, "--no-headers", default=False)),
    )

    for c in cmds[1:]:
        q = _apply(q, c, out)


def _apply(q, c: Command, out):
    from qsvspark.io.sinks import partition as sink_partition

    name, a = c.name, c.args
    if name == "select":
        return q.select(a[0])
    if name == "renamecol":
        return q.renamecol(a[0], a[1])
    if name == "isin":
        return q.isin(a[0], _values_list(a[1]) if len(a) > 1 else [])
    if name == "contains":
        return q.contains(a[0], a[1], ignorecase=bool(_opt(c, "-i", "--ignorecase", default=False)))
    if name == "grep":
        return q.grep(
            a[0],
            ignorecase=bool(_opt(c, "-i", "--ignorecase", default=False)),
            invert=bool(_opt(c, "-v", "--invert", default=False)),
        )
    if name == "sed":
        return q.sed(
            a[0], a[1],
            column=_opt(c, "--column"),
            ignorecase=bool(_opt(c, "-i", "--ignorecase", default=False)),
        )
    if name == "sort":
        return q.sort(a[0], desc=bool(_opt(c, "-d", "--desc", default=False)))
    if name == "head":
        return q.head(int(a[0]) if a else 5)
    if name == "tail":
        return q.tail(int(a[0]) if a else 5)
    if name == "uniq":
        return q.uniq()
    if name == "count":
        return q.count()
    if name == "pivot":
        return q.pivot(
            rows=_opt(c, "--rows"), cols=_opt(c, "--cols"),
            values=_opt(c, "--values"), agg=_opt(c, "--agg", default="sum"),
        )
    if name == "timeline":
        agg = None
        agg_col = None
        for k in ("--sum", "--avg", "--min", "--max", "--std"):
            if k in c.options:
                agg, agg_col = k[2:], c.options[k]
        return q.timeline(a[0], _opt(c, "--interval", default="1h"), agg=agg, agg_column=agg_col)
    if name == "timeslice":
        return q.timeslice(a[0], start=_opt(c, "--start"), end=_opt(c, "--end"))
    if name == "timeround":
        return q.timeround(a[0], _opt(c, "--unit"), output=_opt(c, "--output"))
    if name == "changetz":
        return q.changetz(
            a[0], from_tz=_opt(c, "--from-tz"), to_tz=_opt(c, "--to-tz"),
            input_format=_opt(c, "--input-format"),
            output_format=_opt(c, "--output-format"),
            ambiguous=_opt(c, "--ambiguous", default="earliest"),
        )
    if name == "convert":
        return q.convert(a[0], _opt(c, "--from"), _opt(c, "--to"))
    # finalizers
    if name == "show":
        rows = None
        if "--batch-size" in c.options:
            from qsvspark.io.sinks import estimate_batch_rows

            # reference batch size is BYTES (1MB-10GB, command.rs:721-778);
            # map to rows via a 100-row width probe (batch.rs:8-38) so the
            # stream holds one right-sized slice, not the table
            rows = estimate_batch_rows(
                q.df, parse_batch_size(c.options["--batch-size"])
            )
        q.show(file=out, batch_size=rows)
        return q
    if name == "showtable":
        q.showtable(file=out)
        return q
    if name == "headers":
        plain = bool(_opt(c, "-p", "--plain", default=False))
        cols = q.headers(plain=plain)
        if plain:
            print("\n".join(cols), file=out)
        else:
            for i, col in enumerate(cols):
                print(f"{i + 1:>3}: {col}", file=out)
        return q
    if name == "stats":
        from qsvspark.io.sinks import showtable as _st

        _st(q.stats(), max_rows=100, file=out)
        return q
    if name == "showquery":
        print(q.showquery(), file=out)
        return q
    if name == "dump":
        sep = _opt(c, "-s", "--separator", default=",")
        target = _opt(c, "-o", default="dump.csv")
        if "--batch-size" in c.options:
            from qsvspark.io.sinks import estimate_batch_rows

            # streamed single-file write: same toLocalIterator pattern as
            # show, slice rows sized by the 100-row width probe
            # (reference dump.rs:74-134 streamed batches)
            rows = estimate_batch_rows(
                q.df, parse_batch_size(c.options["--batch-size"])
            )
            q.dump(target, separator=sep, batch_size=rows)
        else:
            q.dump(target, separator=sep)
        return q
    if name == "dumpcache":
        q.dumpcache(_opt(c, "-o", default="cache.parquet"))
        return q
    if name == "partition":
        # CLI parity: one <sanitized_value>.csv per key (partition.rs:34);
        # the library default (directory-per-key parquet) is the scale path
        outdir = c.args[1] if len(c.args) > 1 else "./partitions"
        sink_partition(q.df, c.args[0], outdir, fmt="csv", per_key_files=True)
        return q
    raise InvalidArgumentError(f"unknown command '{name}'")


def main(argv: list[str] | None = None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    if not argv or argv[0] in ("-h", "--help"):
        print(__doc__)
        return 0
    try:
        execute(parse_commands(argv))
        return 0
    except QsvError as e:
        print(f"Error: {e}", file=sys.stderr)
        return 1


if __name__ == "__main__":
    sys.exit(main())
