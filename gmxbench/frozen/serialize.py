"""Canonical serializer: wide record -> XML document (per standard).

Re-derives the reference's write path as *regeneration*: instead of mutating
an existing tree (update_property/update_complex*, utils.py:370-522), every
property is written into a fresh template tree at its PRIMARY location only —
the reference's secondary-location-erasure rule (utils.py:390-391) falls out
for free.  Cross-standard conversion (convert_parser_to,
metadata_parser.py:25-43) is therefore just "serialize the same wide record
with a different standard's spec".

Canonical form: properties are inserted in spec order; parent elements are
created on first touch, so top-level sections appear in a deterministic order.
``serialize_sections`` exposes the per-top-level-element split used as the
span contract (one text span per top-level section).

Standard-specific write rules reproduced from the reference:
- dates: per-type elements with standard-specific nesting (FGDC mdattim/sngdate
  fgdc:234-253; ISO TimeInstant/TimePeriod iso:506-526; ArcGIS TempExtent/TM_*
  arcgis:373-393)
- ISO keywords: one descriptiveKeywords group per kind with a type node
  (iso:581-609)
- digital forms unzip into format + transfer-option lists; ISO re-appends
  content to specification after the sentinel (iso:528-579, arcgis:328-371)
- raster_info unpivot into vertical/column/row dimensions + num-dims scalar
  (iso:611-655, arcgis:430-474); FGDC writes flat paths (fgdc:198-211)
- ArcGIS report items: typed report elements with measDesc children
  (arcgis:395-428)
"""

from __future__ import annotations

import xml.etree.ElementTree as ET

from frozen.specs import COMPLEX_FIELDS, ISO_CONTENT_DELIM, MULTI_SUBS, SPECS
from frozen.specs.iso import ATTRIBUTES_SPEC, CATALOG_ROOT
from frozen.xmlkit import append_at, ensure, split_attr, to_string

ROOT_TAGS = {"fgdc": "metadata", "iso": "MD_Metadata", "arcgis": "metadata"}


def _vals(v) -> list[str]:
    """Normalize a record value to the list of element values to write
    (inverse of the '\\n' join in extraction)."""

    if v is None:
        return []
    if isinstance(v, (list, tuple)):
        return [x for x in v if x]
    return [p for p in str(v).split("\n") if p]


def _write_scalar(root: ET.Element, path: str, value) -> None:
    base, attr = split_attr(path)
    if attr is not None:
        vals = [p for p in str(value or "").split(",") if p]
        if vals:
            ensure(root, base).set(attr, ",".join(vals)) if base else root.set(attr, ",".join(vals))
        return
    for v in _vals(value):
        append_at(root, path, text=v)


def _write_relative(el: ET.Element, path: str, root_path: str, value) -> None:
    rel = path[len(root_path):].lstrip("/") if root_path and path.startswith(root_path) else path
    base, attr = split_attr(rel)
    if attr is not None:
        vals = [p for p in str(value or "").split(",") if p]
        if vals:
            (ensure(el, base) if base else el).set(attr, ",".join(vals))
        return
    for v in _vals(value):
        append_at(el, rel, text=v)


def _write_struct(root: ET.Element, spec, prop: str, value: dict | None) -> None:
    if not value:
        return
    multi = MULTI_SUBS.get(prop, set())
    for sub, chain in spec.subs.items():
        if not chain:
            continue
        v = value.get(sub)
        if sub in multi:
            for item in v or []:
                _write_scalar(root, chain[0], item)
        elif v:
            _write_scalar(root, chain[0], v)


def _write_struct_list(root: ET.Element, spec, prop: str, values: list[dict]) -> None:
    multi = MULTI_SUBS.get(prop, set())
    for item in values or []:
        el = append_at(root, spec.root)
        for sub, chain in spec.subs.items():
            if not chain:
                continue
            v = item.get(sub)
            if sub in multi:
                for x in v or []:
                    _write_relative(el, chain[0], spec.root, x)
            elif v:
                _write_relative(el, chain[0], spec.root, v)


def _write_repeated_nested(root: ET.Element, path: str, values: list[str], fresh: int = 2) -> None:
    """One value per fresh trailing ``fresh``-step sub-tree under a shared
    prefix — the shape the reference's per-type date roots produce."""

    steps = [s for s in path.split("/") if s]
    prefix, tail = "/".join(steps[:-fresh]), steps[-fresh:]
    parent = ensure(root, prefix) if prefix else root
    for v in values:
        el = parent
        for step in tail[:-1]:
            el = ET.SubElement(el, step)
        leaf = ET.SubElement(el, tail[-1])
        leaf.text = v


def _write_dates(root: ET.Element, spec, dates: dict | None) -> None:
    if not dates or not dates.get("type"):
        return
    d = spec.dates
    dtype, values = dates["type"], [v for v in dates.get("values") or [] if v]
    if dtype == "single" and values:
        _write_repeated_nested(root, d.write_single, values[:1])
    elif dtype == "multiple":
        _write_repeated_nested(root, d.write_multiple, values)
    elif dtype == "range" and len(values) >= 2:
        _write_scalar(root, d.write_range_begin, values[0])
        _write_scalar(root, d.write_range_end, values[1])


def _write_iso_keywords(root: ET.Element, spec, rec: dict) -> None:
    for prop, g in spec.keyword_groups.items():
        values = [v for v in rec.get(prop) or [] if v]
        if not values:
            continue
        group = append_at(root, g.root)
        append_at(group, g.type_path, text=g.type_value)
        for v in values:
            append_at(group, g.keyword_path, text=v)


def _write_digital_forms(root: ET.Element, spec, forms: list[dict]) -> None:
    forms = forms or []
    if spec.name == "fgdc":
        _write_struct_list(root, spec.complexes["digital_forms"], "digital_forms", forms)
        return

    fspec = spec.complexes["digital_forms"]
    format_subs = ("name", "content", "decompression", "version", "specification")
    for form in forms:
        el = append_at(root, fspec.root)
        for sub in format_subs:
            chain = fspec.subs.get(sub) or ()
            v = form.get(sub)
            if sub == "specification" and spec.iso_content_split:
                parts = _vals(form.get("specification"))
                content = _vals(form.get("content"))
                if content:
                    parts = parts + [ISO_CONTENT_DELIM] + content
                for p in parts:
                    _write_relative(el, fspec.subs["specification"][0], fspec.root, p)
                continue
            if sub == "content" and spec.iso_content_split:
                continue  # carried inside specification for ISO
            if chain and v:
                _write_relative(el, chain[0], fspec.root, v)

    tspec = spec.transfer_options
    for form in forms:
        el = append_at(root, tspec.root)
        for sub, chain in tspec.subs.items():
            v = form.get(sub)
            if chain and v:
                _write_relative(el, chain[0], tspec.root, v)


def _write_raster_info(root: ET.Element, spec, info: dict | None) -> None:
    if not info:
        return
    if spec.raster_dims is None:  # FGDC: flat paths
        _write_struct(root, spec.complexes["raster_info"], "raster_info", info)
        return

    d = spec.raster_dims
    if info.get("dimensions"):
        _write_scalar(root, d.num_dims_chain[0], info["dimensions"])

    dims = []
    if info.get("vertical_count"):
        dims.append(("vertical", info.get("vertical_count", ""), ""))
    if info.get("column_count") or info.get("x_resolution"):
        dims.append(("column", info.get("column_count", ""), info.get("x_resolution", "")))
    if info.get("row_count") or info.get("y_resolution"):
        dims.append(("row", info.get("row_count", ""), info.get("y_resolution", "")))

    for kind, size, value in dims:
        el = append_at(root, d.root)
        _write_relative(el, d.type_chain[0], d.root, kind)
        if size:
            _write_relative(el, d.size_chain[0], d.root, size)
        if value:
            _write_relative(el, d.value_chain[0], d.root, value)


def _write_report_items(root: ET.Element, spec, rec: dict) -> None:
    for prop, r in spec.report_items.items():
        for v in _vals(rec.get(prop)):
            el = append_at(root, r.root, **{r.attr: r.attr_value})
            append_at(el, r.child, text=v)


def build_tree(rec: dict, standard: str, specs: dict | None = None) -> ET.Element:
    spec = (SPECS if specs is None else {**SPECS, **specs})[standard]
    root = ET.Element(ROOT_TAGS[standard])

    if standard == "arcgis":
        ensure(root, "dataIdInfo")  # probe node so dispatch resolves to ArcGIS

    write_into(root, rec, spec)
    return root


def write_into(root: ET.Element, rec: dict, spec) -> None:
    """Write every managed property of ``rec`` into ``root`` (shared by the
    regeneration path and the in-place updater in gmx.update, which clears
    managed locations first)."""

    standard = spec.name
    for prop, chain in spec.simple.items():
        if spec.report_items and prop in spec.report_items:
            continue
        v = rec.get(prop)
        if v:
            _write_scalar(root, chain[0], v)

    if spec.keywords:
        for prop, chain in spec.keywords.items():
            for v in rec.get(prop) or []:
                _write_scalar(root, chain[0], v)
    if spec.keyword_groups:
        _write_iso_keywords(root, spec, rec)
    for prop, chain in (spec.extra_keywords or {}).items():
        for v in rec.get(prop) or []:
            _write_scalar(root, chain[0], v)

    _write_struct(root, spec.complexes["bounding_box"], "bounding_box", rec.get("bounding_box"))
    _write_dates(root, spec, rec.get("dates"))
    _write_struct(root, spec.complexes["larger_works"], "larger_works", rec.get("larger_works"))
    _write_struct_list(root, spec.complexes["contacts"], "contacts", rec.get("contacts"))
    _write_struct_list(root, spec.complexes["attributes"], "attributes", rec.get("attributes"))
    _write_digital_forms(root, spec, rec.get("digital_forms"))
    _write_struct_list(root, spec.complexes["process_steps"], "process_steps", rec.get("process_steps"))
    _write_raster_info(root, spec, rec.get("raster_info"))
    if spec.report_items:
        _write_report_items(root, spec, rec)

    if standard == "iso" and rec.get("attr_catalog_url"):
        _write_scalar(root, spec.attr_catalog_url[0], rec["attr_catalog_url"])

    # X2 custom complexes (extend_spec additions beyond the built-in names)
    # write generically — extraction already parses them generically
    builtin_complex = {
        "bounding_box", "larger_works", "contacts", "attributes",
        "digital_forms", "process_steps", "raster_info",
    }
    for prop, cspec in spec.complexes.items():
        if prop in builtin_complex:
            continue
        if cspec.is_list:
            _write_struct_list(root, cspec, prop, rec.get(prop))
        else:
            _write_struct(root, cspec, prop, rec.get(prop))

    # X1 callable bindings: each write_fn owns removal of its locations,
    # so this is correct for both regeneration and in-place update
    for prop, cp in (spec.callables or {}).items():
        if cp.write_fn is not None:
            cp.write_fn(root, rec.get(prop), spec)


def serialize_sections(rec: dict, standard: str, specs: dict | None = None) -> list[str]:
    """Document split at top-level section boundaries: section i is the XML of
    the i-th top-level element; the first is prefixed with the root open tag
    and the last suffixed with the close tag (span contract, FIXTURES.md §1)."""

    root = build_tree(rec, standard, specs)
    tag = root.tag
    kids = list(root)
    if not kids:
        return [f"<{tag} />"]
    parts = [to_string(k) for k in kids]
    parts[0] = f"<{tag}>" + parts[0]
    parts[-1] = parts[-1] + f"</{tag}>"
    return parts


def serialize_catalog(attributes: list[dict]) -> str:
    """Emit an ISO-19110 FC_FeatureCatalogue document carrying attribute
    details (the remote-catalog documents the reference fetches by URL,
    iso:357-381)."""

    root = ET.Element(CATALOG_ROOT)
    _write_struct_list(root, ATTRIBUTES_SPEC, "attributes", attributes)
    return to_string(root)
