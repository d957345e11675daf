"""CLI: the ``ontoweave`` analog (/root/reference/src/ontoweaver/ontoweave.py).

    python -m ontoweaver_spark DATA:MAPPING [DATA:MAPPING ...] \
        --out OUT_DIR [--affix none|prefix|suffix] [--affix-sep :] \
        [--reconciliate-sep "|"] [--chunks N] [--salt K] \
        [--register module.py] [--sub-sample PCT] [--master local[*]]

Every invocation is one ``pipeline.run_pipeline`` call: each DATA:MAPPING
pair is validated and extracted once into resumable chunks, and one global
reconciliation fuses them all (multi-source fusion, reference
__init__.py:504-530); final nodes/edges land in OUT_DIR as label-partitioned
parquet with a manifest. A rerun into the same OUT_DIR skips chunks already
extracted from unchanged inputs.
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def _external_defaults(ap: argparse.ArgumentParser) -> tuple[dict, dict]:
    """Defaults from a config file + ``ONTOWEAVE_*`` env vars (the
    reference CLI gets both via jsonargparse, ontoweave.py:151-220;
    precedence here matches it: CLI flag > env var > config file > coded
    default). Config file: ``$ONTOWEAVE_CONFIG`` if set, else
    ``$XDG_CONFIG_HOME/ontoweave_spark/config.yaml``. String defaults are
    type-converted by argparse exactly like command-line values."""
    import yaml

    cfg: dict = {}
    explicit = os.environ.get("ONTOWEAVE_CONFIG")
    xdg = os.path.join(
        os.environ.get("XDG_CONFIG_HOME", os.path.expanduser("~/.config")),
        "ontoweave_spark", "config.yaml",
    )
    for path in ([explicit] if explicit else [xdg]):
        if path and os.path.exists(path):
            with open(path) as f:
                loaded = yaml.safe_load(f) or {}
            if not isinstance(loaded, dict):
                raise SystemExit(f"config file {path} must be a YAML mapping")
            cfg.update({str(k).replace("-", "_"): v for k, v in loaded.items()})
            break

    def convert(action, raw, origin):
        """Coerce a string default to the action's runtime type — argparse
        type-converts string defaults but does NOT run store_true/append
        logic or `choices` checks on them, so a raw passthrough would make
        ONTOWEAVE_PASS_ERRORS=false truthy and iterate an env --register
        value character by character."""
        if not isinstance(raw, str):
            value = raw
        elif isinstance(action, (argparse._StoreTrueAction, argparse._StoreFalseAction)):
            low = raw.strip().lower()
            if low in ("1", "true", "yes", "on"):
                value = True
            elif low in ("0", "false", "no", "off", ""):
                value = False
            else:
                raise SystemExit(f"{origin}: expected a boolean, got {raw!r}")
            return value
        elif isinstance(action, argparse._AppendAction):
            return [v for v in raw.split(os.pathsep) if v]
        elif action.type is not None:
            try:
                value = action.type(raw)
            except (TypeError, ValueError):
                raise SystemExit(f"{origin}: invalid value {raw!r}")
        else:
            value = raw
        if action.choices is not None and value not in action.choices:
            raise SystemExit(
                f"{origin}: {value!r} not one of {sorted(action.choices)}"
            )
        return value

    out: dict = {}
    append_fallbacks: dict = {}
    for action in ap._actions:
        if not action.option_strings or action.dest == argparse.SUPPRESS:
            continue
        # append actions must NOT be installed as argparse defaults: argparse
        # appends CLI values ONTO the default list, so an env value would
        # merge with (not be overridden by) the command line, violating the
        # documented precedence — they apply after parsing, only if the CLI
        # gave none
        sink = append_fallbacks if isinstance(action, argparse._AppendAction) else out
        if action.dest in cfg:
            sink[action.dest] = convert(action, cfg[action.dest], f"config {action.dest}")
        env_name = "ONTOWEAVE_" + action.dest.upper()
        env = os.environ.get(env_name)
        if env is not None:
            sink[action.dest] = convert(action, env, env_name)
    return out, append_fallbacks


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(prog="ontoweaver_spark", description=__doc__)
    ap.add_argument("pairs", nargs="+", metavar="DATA:MAPPING",
                    help="input table path and mapping YAML, colon-separated")
    # NOT argparse-required: argparse ignores set_defaults for required
    # options, which would make ONTOWEAVE_OUT / a config `out:` key silently
    # unusable — presence is enforced after env/config defaults are merged
    ap.add_argument("--out", default=None, help="output directory "
                    "(flag, ONTOWEAVE_OUT, or config `out:`)")
    ap.add_argument("--affix", default="none", choices=["none", "prefix", "suffix"])
    ap.add_argument("--affix-sep", default=":")
    ap.add_argument("--reconciliate-sep", default="|")
    ap.add_argument("--chunks", type=int, default=1,
                    help="resumable extraction chunks per DATA:MAPPING pair "
                         "(each input is staged once, split by a row hash)")
    ap.add_argument("--salt", type=int, default=0,
                    help="fusion salt partitions for hub skew; -1 picks one "
                         "automatically from a heavy-hitter sample of the "
                         "staged node ids")
    ap.add_argument("--bucketed-out", default=None, metavar="DATABASE",
                    help="also materialize the fused graph as bucketed "
                         "tables (nodes bucketBy id, edges bucketBy src) in "
                         "this database — downstream edge->node joins need "
                         "no shuffle")
    ap.add_argument("--neo4j-out", default=None, metavar="DIR",
                    help="also write the fused graph as a Neo4j bulk-import "
                         "directory (per-label header+parts CSV groups and "
                         "a generated neo4j-admin import script — the "
                         "reference's BioCypher/--import-script-run analog)")
    ap.add_argument("--neo4j-import-run", action="store_true",
                    help="after --neo4j-out, execute the generated "
                         "neo4j-import.sh and propagate its exit code "
                         "(reference --import-script-run, "
                         "ontoweave.py:441-452); fails if neo4j-admin is "
                         "not on PATH")
    ap.add_argument("--register", action="append", default=[],
                    help="user transformer module path (may repeat)")
    ap.add_argument("--sub-sample", type=float, default=None, help="percent sample")
    ap.add_argument("--master", default=None)
    ap.add_argument("--sort", default=None, choices=["ascend", "descend"],
                    help="sort output by id before writing")
    ap.add_argument("--auto-schema", default=None, metavar="PATH",
                    help="derive a schema YAML from the mapping(s) and exit "
                         "(the reference's --auto-schema analog)")
    ap.add_argument("--validate-only", action="store_true",
                    help="run only the mappings' validate: rules over each "
                         "input, print per-source violation counts, exit "
                         "(non-zero when any row is invalid)")
    ap.add_argument("--validate", default="raise",
                    choices=["raise", "filter", "report"], dest="validate_mode",
                    help="what invalid rows do during extraction: raise "
                         "(reference-parity fail-loud), filter (drop), "
                         "report (drop + counts)")
    ap.add_argument("--shacl", default=None, metavar="SHAPES",
                    help="SHACL-lite shapes file (YAML/JSON list of node "
                         "shapes); the fused graph is validated pre-render "
                         "and violations written to OUT/shacl_violations; "
                         "any violation fails the run (exit 3) unless "
                         "--shacl-report-only")
    ap.add_argument("--shacl-report-only", action="store_true",
                    help="report SHACL violations without failing the run")
    ap.add_argument("--validate-output", action="store_true",
                    help="after fusion, check final-graph invariants (no "
                         "null/duplicate node ids, no dangling edge "
                         "endpoints) and fail if violated (reference -V)")
    ap.add_argument("--prop-sep", default=None, metavar="CHARACTER",
                    help="render multi-valued properties joined with this "
                         "separator instead of arrays (reference -S, its "
                         "default ';'); unset keeps array-typed properties")
    ap.add_argument("--pass-errors", action="store_true",
                    help="keep going on fusion label conflicts (sorted-first "
                         "label) instead of failing (reference -E)")
    ap.add_argument("--sep", default=None, metavar="CHARACTER",
                    help="input CSV cell separator override (reference "
                         "--pandas-sep); default derives from the extension")
    ap.add_argument("--log-level", default="WARN",
                    choices=["ALL", "DEBUG", "INFO", "WARN", "ERROR", "OFF"],
                    help="Spark log level (reference -l)")
    ext_defaults, append_fallbacks = _external_defaults(ap)
    ap.set_defaults(**ext_defaults)
    args = ap.parse_args(argv)
    for dest, vals in append_fallbacks.items():
        if not getattr(args, dest, None):  # CLI flag wins over env/config
            setattr(args, dest, vals)
    if not args.out and not args.auto_schema and not args.validate_only:
        ap.error("--out is required (flag, ONTOWEAVE_OUT, or config `out:`)")
    if args.neo4j_import_run and not args.neo4j_out:
        ap.error("--neo4j-import-run requires --neo4j-out")

    from . import registry
    from .loaders import read_table, sub_sample
    from .session import get_spark
    from .spec import load_mapping

    for mod in args.register:
        registry.import_from_path(mod)

    if args.auto_schema:
        import yaml
        schema: dict = {}
        for pair in args.pairs:
            _, _, mapping_path = pair.rpartition(":")
            schema.update(load_mapping(mapping_path).autoschema())
        with open(args.auto_schema, "w") as f:
            yaml.safe_dump(schema, f, sort_keys=True)
        print(json.dumps({"auto_schema": args.auto_schema, "types": len(schema)}))
        return 0

    spark = get_spark(app_name="ontoweave-spark", master=args.master)
    spark.sparkContext.setLogLevel(args.log_level)

    def read_pair(pair: str):
        data_path, _, mapping_path = pair.rpartition(":")
        if not data_path:
            ap.error(f"expected DATA:MAPPING, got {pair!r}")
        spec = load_mapping(mapping_path)
        df = read_table(spark, data_path, sep=args.sep)
        if args.sub_sample:
            # validate-only checks the same rows extraction sees
            df = sub_sample(df, args.sub_sample)
        return df, spec

    if args.validate_only:
        # reference --validate-only: check the inputs, report, don't build
        from .validate import validate_input

        reports, any_invalid = {}, False
        for pair in args.pairs:
            df, spec = read_pair(pair)
            if not spec.input_rules:
                reports[pair] = {"rules": 0}
                continue
            _, rep = validate_input(df, spec.input_rules)
            any_invalid = any_invalid or rep.invalid > 0
            reports[pair] = {
                "total": rep.total, "valid": rep.valid,
                "invalid": rep.invalid, "per_rule": rep.per_rule,
            }
        print(json.dumps({"validate_only": reports}))
        spark.stop()
        return 1 if any_invalid else 0

    from .pipeline import run_pipeline

    tables, specs = zip(*map(read_pair, args.pairs))
    report = run_pipeline(
        spark, list(tables), list(specs), args.out,
        affix=args.affix, type_affix_sep=args.affix_sep,
        reconciliate_sep=args.reconciliate_sep,
        n_chunks=args.chunks, salt=args.salt,
        raise_errors=not args.pass_errors, validate_mode=args.validate_mode,
        prop_sep=args.prop_sep, sort=args.sort,
        validate_output=args.validate_output, bucketed_out=args.bucketed_out,
        neo4j_out=args.neo4j_out, shacl=args.shacl,
    )
    for line in report.shacl_sample:
        print(line, file=sys.stderr)
    result = {"nodes": report.fused_nodes, "edges": report.fused_edges, "out": args.out,
              "chunks_resumed": report.chunks_resumed,
              "chunks_extracted": report.chunks_extracted,
              "integrity": report.integrity, "shacl_violations": report.shacl_violations}
    print(json.dumps({k: v for k, v in result.items() if v is not None}))
    spark.stop()
    if report.integrity is not None and not report.integrity["ok"]:
        return 1
    if report.shacl_violations and not args.shacl_report_only:
        return 3
    if args.neo4j_import_run:
        from .neo4j_export import run_import_script

        return run_import_script(args.neo4j_out)
    return 0


if __name__ == "__main__":
    sys.exit(main())
