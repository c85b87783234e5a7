"""``fio`` CLI parity: ``python -m fiona_spark.fio COMMAND ...``.

The reference ships its user surface as a click-based ``fio`` command
group (`fiona/fio/main.py:56-100`, one module per subcommand under
`fiona/fio/`).  This module reproduces that surface as stdlib-argparse
glue over the engine's library operators — every subcommand is a thin
wrapper around a function that already has its own tests/oracles:

=============  =====================================================
subcommand     engine operator (reference behavior source)
=============  =====================================================
``ls``         sources.catalog.listlayers     (`fio/ls.py:13-27`)
``env``        env.env_info / format_listing  (`fio/env.py:22-39`)
``info``       sources.catalog.info           (`fio/info.py:42-78`)
``insp``       env.insp, non-interactive      (`fio/insp.py`)
``rm``         sources.catalog.remove         (`fio/rm.py:9-31`)
``cat``        driver registry read + filters (`fio/cat.py:63-139`)
``dump``       same read -> one collection    (`fio/dump.py:39-198`)
``collect``    stream -> FeatureCollection    (`fio/collect.py:48-245`)
``distrib``    collection -> feature stream   (`fio/distrib.py:16-35`)
``load``       stream -> any writable driver  (`fio/load.py:36-114`)
``bounds``     per-feature bbox               (`fio/bounds.py:16-42`)
``filter``     snuggs.filter_features         (`fio/features.py:106-191`)
``calc``       snuggs.calc_feature            (`fio/calc.py:19-63`)
``map``        snuggs constructive pipeline   (`fio/features.py:46-107`)
``reduce``     aggregates.dissolve_union      (`fio/features.py:210-267`)
=============  =====================================================

Stream piping matches the reference's RFC 8142 conventions: newline- or
RS-delimited GeoJSON features on stdin/stdout (RS required for
pretty-printed members), ``--use-rs`` to emit RS markers.  The pure
stream-reshaping commands (``collect``/``distrib``/``bounds``) run
driver-side exactly like the reference's single-process pipes; every
dataset-touching command goes through the Spark driver registry, so
``fio cat big.gpkg`` plans the same distributed read as the library.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile

RS = "\x1e"


# --------------------------------------------------------------------------
# stream helpers (RFC 8142 / reference fio/helpers.py:obj_gen semantics)

def _parse_feature_stream(text: str) -> list[dict]:
    """stdin text -> feature dicts.

    Accepts RS-delimited sequences (pretty-printed members allowed, as
    in the reference's sequence-pp.txt), newline-delimited sequences,
    a single FeatureCollection document, or one bare feature/geometry.
    """
    text = text.strip()
    if not text:
        return []
    if RS in text:
        chunks = [c.strip() for c in text.split(RS)]
        objs = [json.loads(c) for c in chunks if c]
    else:
        objs = []
        try:
            for line in text.splitlines():
                line = line.strip()
                if line:
                    objs.append(json.loads(line))
        except json.JSONDecodeError:
            # one pretty-printed document spanning many lines
            objs = [json.loads(text)]
    feats: list[dict] = []
    for ob in objs:
        if ob.get("type") == "FeatureCollection":
            feats.extend(ob.get("features") or [])
        elif ob.get("type") == "Feature":
            feats.append(ob)
        else:   # bare geometry, as `fio collect` accepts
            feats.append({"type": "Feature", "id": None,
                          "geometry": ob, "properties": {}})
    return feats


def _dump(ob, indent=None) -> str:
    from .model import ObjectEncoder
    return json.dumps(ob, cls=ObjectEncoder, indent=indent,
                      separators=(", ", ": ") if indent is None
                      else None)


def _emit_seq(features, use_rs: bool, indent, out) -> None:
    for f in features:
        if use_rs:
            out.write(RS)
        out.write(_dump(f, indent))
        out.write("\n")


def _rows_to_features(df, id_col: str = "id"):
    """Stream DataFrame rows -> Feature dicts (driver-side emit, same
    bounded-memory toLocalIterator convention as the single-file
    sinks)."""
    from .model import row_to_feature
    id_col = id_col if id_col in df.columns else (
        "fid" if "fid" in df.columns else "id")
    for row in df.toLocalIterator():
        # __geo_interface__ carries the full GeoJSON shape (incl.
        # "type": "Feature"); dict(Feature) iterates members only
        yield row_to_feature(row, id_col=id_col).__geo_interface__


def _spark(args):
    from .session import get_spark
    return get_spark(cores=args.cores)


def _open_inputs(spark, paths, layer=None, bbox=None, where=None,
                 dst_crs=None, src_crs="EPSG:4326",
                 cut_at_antimeridian=False):
    """Resolve each input through the driver registry and apply the
    reference cat/dump option set (`fio/cat.py:58-139`), including
    ``--dst-crs`` reprojection (distributed transform_geom over the
    ring model) with opt-in ``--cut-at-antimeridian`` WRAPDATELINE
    cutting, exactly the flag the reference passes through to
    transform_geom (`fio/cat.py:114-124`)."""
    from .operators import filters
    from .sources import drivers
    for path in paths:
        opts = {"layer": layer} if layer else {}
        df = drivers.open_dataset(spark, path, **opts)
        if bbox is not None:
            if not {"xmin", "ymin", "xmax", "ymax"} <= set(df.columns):
                raise SystemExit(
                    f"--bbox needs envelope columns; {path} has none")
            df = filters.filter_bbox(df, bbox)
        if where:
            df = filters.filter_where(df, where)
        if dst_crs:
            if "rings_xs" not in df.columns:
                raise SystemExit(
                    f"--dst-crs needs geometry columns; {path} has none")
            from .functions import geometry as gf
            df = gf.reproject_rings(
                df, src_crs, dst_crs,
                antimeridian_cutting=cut_at_antimeridian)
        yield df


def _read_stdin_df(spark):
    """stdin feature stream -> engine DataFrame via the tested
    read_feature_seq path (schema inferred from the first feature,
    `fio/load.py:84-97`)."""
    from .sources import geojson
    text = sys.stdin.read()
    tmp = tempfile.mkdtemp(prefix="fiona_spark_fio_")
    seq = os.path.join(tmp, "stdin.geojsons")
    with open(seq, "w") as fh:
        fh.write(text if text.endswith("\n") else text + "\n")
    return geojson.read_feature_seq(spark, seq)


def _parse_bbox(txt):
    # reference fio cat accepts both 'w,s,e,n' and a JSON array
    # '[w, s, e, n]' (fio/cat.py:104-107)
    t = txt.strip()
    if t.startswith("["):
        try:
            parts = [float(p) for p in json.loads(t)]
        except (ValueError, TypeError) as e:
            raise argparse.ArgumentTypeError(f"bad JSON bbox: {e}")
    else:
        parts = [float(p) for p in t.replace(",", " ").split()]
    if len(parts) != 4:
        raise argparse.ArgumentTypeError("bbox needs 4 numbers")
    return tuple(parts)


# --------------------------------------------------------------------------
# subcommands

def cmd_ls(args):
    from .sources import catalog
    print(json.dumps(catalog.listlayers(args.path), indent=args.indent))


def cmd_env(args):
    from . import env
    if args.formats:
        sys.stdout.write(env.format_listing())
    else:
        print(json.dumps(env.env_info(), indent=2, default=str))


def cmd_info(args):
    from .sources import catalog
    rec = catalog.info(_spark(args), args.path,
                       layer=getattr(args, "layer", None))
    # single-member flags, reference fio/info.py:28-39 (--format prints
    # the driver name, --name the layer name)
    for flag, key in (("count", "count"), ("bounds", "bounds"),
                      ("crs", "crs"), ("format", "driver_name"),
                      ("name", "name")):
        if getattr(args, flag, False):
            print(rec.get(key))
            return
    print(json.dumps(rec, indent=args.indent, default=str))


def cmd_insp(args):
    from . import env
    # Reference parity (`fiona/fio/insp.py:29`): interactive `fio insp`
    # drops into an interpreter with the open collection bound as `src`.
    # Piped stdin keeps the r4 non-interactive record output so scripts
    # and the CLI tests see stable JSON.
    if getattr(args, "interactive", None) is None:
        interactive = sys.stdin.isatty()
    else:
        interactive = args.interactive
    if interactive:
        import code as _code
        from . import __version__, open_collection
        banner = (
            "fiona_spark %s Interactive Inspector (Python %s)\n"
            'Type "src.schema", "next(src)", or "help(src)" '
            "for more information."
            % (__version__, ".".join(map(str, sys.version_info[:3])))
        )
        with open_collection(_spark(args), args.path) as src:
            _code.interact(banner, local={"src": src})
        return
    rec = env.insp(_spark(args), args.path, n=args.n)
    print(json.dumps(rec, indent=2, default=str))


def cmd_rm(args):
    from .sources import catalog
    if not args.yes:
        raise SystemExit("refusing to remove without --yes "
                         "(no interactive confirm in CLI mode)")
    catalog.remove(args.path, args.layer)


def cmd_cat(args):
    for df in _open_inputs(_spark(args), args.inputs, layer=args.layer,
                           bbox=args.bbox, where=args.where,
                           dst_crs=args.dst_crs, src_crs=args.src_crs,
                           cut_at_antimeridian=args.cut_at_antimeridian):
        _emit_seq(_rows_to_features(df), args.use_rs, args.indent,
                  sys.stdout)


def cmd_dump(args):
    [df] = list(_open_inputs(_spark(args), [args.input],
                             layer=args.layer,
                             dst_crs=args.dst_crs, src_crs=args.src_crs))
    feats = list(_rows_to_features(df))
    print(_dump({"type": "FeatureCollection", "features": feats},
                args.indent))


def cmd_collect(args):
    feats = _parse_feature_stream(sys.stdin.read())
    print(_dump({"type": "FeatureCollection", "features": feats},
                args.indent))


def cmd_distrib(args):
    feats = _parse_feature_stream(sys.stdin.read())
    _emit_seq(feats, args.use_rs, None, sys.stdout)


def cmd_load(args):
    import fiona_spark
    df = _read_stdin_df(_spark(args))
    fiona_spark.open(_spark(args), args.output,
                     mode="a" if args.append else "w",
                     driver=args.driver, df=df)


def cmd_bounds(args):
    for f in _parse_feature_stream(sys.stdin.read()):
        import fiona_spark
        b = fiona_spark.bounds(f)
        if args.precision is not None:
            b = tuple(round(v, args.precision) for v in b)
        ob = {"id": f.get("id"), "bbox": list(b)} if args.with_id \
            else list(b)
        print(json.dumps(ob))


def cmd_filter(args):
    from . import snuggs
    df = _read_stdin_df(_spark(args))
    out = snuggs.filter_features(df, args.expression)
    _emit_seq(_rows_to_features(out), args.use_rs, None, sys.stdout)


def cmd_map(args):
    """``fio map``: transform each feature's geometry with a snuggs
    pipeline (`fio/features.py:46-107`; ``g`` binds the geometry)."""
    from pyspark.sql import functions as F

    from . import snuggs
    from .schema import with_ring_columns
    df = _read_stdin_df(_spark(args))
    if args.dump_parts:
        # explode multi-part geometries to one single-ring feature per
        # part (`fio map --dump-parts`, fiona/features.py:61-82); each
        # part carries the SINGLE-part type of its parent (MultiLine ->
        # LineString etc.), matching the reference — not a blanket
        # Polygon stamp (r5 advice)
        df = (df.select("*", F.posexplode("rings_xs").alias("_i", "_rx"))
              .withColumns({
                  "rings_xs": F.array("_rx"),
                  "rings_ys": F.array(F.expr("rings_ys[_i]")),
                  "geom_type": F.regexp_replace(F.coalesce(
                      F.col("geom_type"), F.lit("Polygon")), "^Multi", "")})
              .drop("_i", "_rx"))
    g = snuggs.compile_expr(args.pipeline)
    # the pipeline's struct(geom_type, rings_xs, rings_ys) replaces the
    # geometry: every ring and part, and the type the function gives
    # (a buffer is a Polygon or MultiPolygon, the rest keep the input's)
    out = with_ring_columns(
        df.withColumn("_g", g)
        .withColumns({c: F.col(f"_g.{c}")
                      for c in ("geom_type", "rings_xs", "rings_ys")})
        .drop("_g"))
    feats = _rows_to_features(out)
    if args.raw:
        for f in feats:
            if args.use_rs:
                sys.stdout.write(RS)
            sys.stdout.write(_dump(f["geometry"]) + "\n")
    else:
        _emit_seq(feats, args.use_rs, None, sys.stdout)


def cmd_reduce(args):
    """``fio reduce``: fold the stdin stream to ONE value
    (`fio/features.py:210-267`; ``c`` binds the collection).  Supported
    pipelines: ``(unary_union c)`` — the exact distributed dissolve —
    and ``(collect c)`` — a GeometryCollection of the inputs."""
    from . import model
    from .operators import aggregates
    spark = _spark(args)
    df = _read_stdin_df(spark)
    if "unary_union" in args.pipeline:
        rxs, rys, exact = aggregates.dissolve_union(df)
        geometry = model.geometry_from_rings(
            "MultiPolygon" if len(rxs) > 1 else "Polygon", rxs, rys)
        if geometry["type"] == "MultiPolygon" \
                and len(geometry["coordinates"]) == 1:
            geometry = model.Geometry(
                type="Polygon", coordinates=geometry["coordinates"][0])
    elif "collect" in args.pipeline:
        geometry = {"type": "GeometryCollection",
                    "geometries": [f["geometry"]
                                   for f in _rows_to_features(df)]}
    else:
        raise SystemExit(
            "supported reduce pipelines: (unary_union c), (collect c)")
    props = {}
    if args.zip_properties:
        feats = list(_rows_to_features(df))
        keys = feats[0]["properties"].keys() if feats else []
        props = {k: [f["properties"].get(k) for f in feats] for k in keys}
    ob = geometry if args.raw else {
        "type": "Feature", "id": "0", "geometry": geometry,
        "properties": props}
    if args.use_rs:
        sys.stdout.write(RS)
    sys.stdout.write(_dump(ob) + "\n")


def cmd_calc(args):
    from . import snuggs
    df = _read_stdin_df(_spark(args))
    out = snuggs.calc_feature(df, args.name, args.expression,
                              overwrite=args.overwrite)
    _emit_seq(_rows_to_features(out), args.use_rs, None, sys.stdout)


# --------------------------------------------------------------------------

def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="fio", description=__doc__.splitlines()[0])
    p.add_argument("--cores", type=int, default=None,
                   help="local[N] cores for commands that start Spark "
                        "(default: $SPARK_GRAFT_CPUS or all)")
    sub = p.add_subparsers(dest="command", required=True)

    def add(name, fn, **kw):
        sp = sub.add_parser(name, **kw)
        sp.set_defaults(fn=fn)
        return sp

    sp = add("ls", cmd_ls, help="list layers")
    sp.add_argument("path")
    sp.add_argument("--indent", type=int, default=None)

    sp = add("env", cmd_env, help="environment / formats")
    sp.add_argument("--formats", action="store_true")

    sp = add("info", cmd_info, help="dataset info record")
    sp.add_argument("path")
    sp.add_argument("--layer", default=None)
    sp.add_argument("--indent", type=int, default=2)
    sp.add_argument("--count", action="store_true",
                    help="print only the feature count")
    sp.add_argument("--bounds", action="store_true",
                    help="print only the extent")
    sp.add_argument("--crs", action="store_true",
                    help="print only the CRS")
    sp.add_argument("-f", "--format", "--driver", dest="format",
                    action="store_true",
                    help="print only the driver name")
    sp.add_argument("--name", action="store_true",
                    help="print only the layer name")

    sp = add("insp", cmd_insp,
             help="interactive inspector (TTY) / info + head rows (pipe)")
    sp.add_argument("path")
    sp.add_argument("-n", type=int, default=5)
    sp.add_argument("--interactive", dest="interactive",
                    action="store_true", default=None,
                    help="force the interpreter even without a TTY")
    sp.add_argument("--no-interactive", dest="interactive",
                    action="store_false",
                    help="force the JSON record output even on a TTY")

    sp = add("rm", cmd_rm, help="remove a dataset/layer")
    sp.add_argument("path")
    sp.add_argument("--layer", default=None)
    sp.add_argument("--yes", action="store_true")

    sp = add("cat", cmd_cat, help="datasets -> feature stream")
    sp.add_argument("inputs", nargs="+")
    sp.add_argument("--layer", default=None)
    sp.add_argument("--bbox", type=_parse_bbox, default=None)
    sp.add_argument("--where", default=None)
    sp.add_argument("--dst-crs", default=None,
                    help="reproject geometries (e.g. EPSG:3857 or a "
                         "+proj= string)")
    sp.add_argument("--src-crs", default="EPSG:4326")
    sp.add_argument("--cut-at-antimeridian", action="store_true",
                    help="cut reprojected geometries at +/-180 (only "
                         "meaningful with a geographic --dst-crs, like "
                         "the reference fio cat)")
    sp.add_argument("--use-rs", action="store_true")
    sp.add_argument("--indent", type=int, default=None)

    sp = add("dump", cmd_dump, help="dataset -> FeatureCollection")
    sp.add_argument("input")
    sp.add_argument("--layer", default=None)
    sp.add_argument("--dst-crs", default=None)
    sp.add_argument("--src-crs", default="EPSG:4326")
    sp.add_argument("--indent", type=int, default=None)

    sp = add("collect", cmd_collect,
             help="stdin stream -> FeatureCollection")
    sp.add_argument("--indent", type=int, default=None)

    sp = add("distrib", cmd_distrib,
             help="stdin collection -> feature stream")
    sp.add_argument("--use-rs", action="store_true")

    sp = add("load", cmd_load, help="stdin stream -> dataset")
    sp.add_argument("output")
    sp.add_argument("--driver", "-f", default=None)
    sp.add_argument("--append", action="store_true")

    sp = add("bounds", cmd_bounds, help="stdin stream -> bboxes")
    sp.add_argument("--with-id", action="store_true")
    sp.add_argument("--precision", type=int, default=None)

    sp = add("filter", cmd_filter,
             help="keep stdin features matching a snuggs expression")
    sp.add_argument("expression")
    sp.add_argument("--use-rs", action="store_true")

    sp = add("map", cmd_map,
             help="transform stdin feature geometries with a pipeline")
    sp.add_argument("pipeline")
    sp.add_argument("--raw", action="store_true",
                    help="print bare geometries, not Feature wrappers")
    sp.add_argument("--dump-parts", action="store_true")
    sp.add_argument("--use-rs", action="store_true")

    sp = add("reduce", cmd_reduce,
             help="fold stdin features to one value")
    sp.add_argument("pipeline")
    sp.add_argument("--raw", action="store_true")
    sp.add_argument("--zip-properties", action="store_true")
    sp.add_argument("--use-rs", action="store_true")

    sp = add("calc", cmd_calc,
             help="add a computed property to stdin features")
    sp.add_argument("name")
    sp.add_argument("expression")
    sp.add_argument("--overwrite", action="store_true")
    sp.add_argument("--use-rs", action="store_true")

    return p


def main(argv=None) -> int:
    args = build_parser().parse_args(argv)
    args.fn(args)
    return 0


if __name__ == "__main__":
    sys.exit(main())
