"""The element builder the frozen serializer uses (``ensure`` / ``append_at``)."""

from __future__ import annotations

import xml.etree.ElementTree as ET


def split_attr(path: str) -> tuple[str, str | None]:
    """``'a/b/@x'`` -> ``('a/b', 'x')``; ``'a/b'`` -> ``('a/b', None)``."""

    if "@" in path:
        base, _, attr = path.rpartition("/@")
        if not base:  # bare '@attr' refers to the context element itself
            return "", path.lstrip("@")
        return base, attr
    return path, None


def ensure(parent: ET.Element, path: str) -> ET.Element:
    """Get-or-create the chain of single child elements along ``path``."""

    cur = parent
    for step in [s for s in path.split("/") if s]:
        nxt = cur.find(step)
        if nxt is None:
            nxt = ET.SubElement(cur, step)
        cur = nxt
    return cur


def append_at(parent: ET.Element, path: str, text: str | None = None, **attrs) -> ET.Element:
    """Ensure all-but-last steps exist, then append a NEW last element
    (so repeated values become sibling elements, as _update_property's
    one-element-per-value rule requires, utils.py:404-448)."""

    head, _, last = path.rpartition("/")
    cur = ensure(parent, head) if head else parent
    el = ET.SubElement(cur, last)
    if text is not None:
        el.text = text
    for k, v in attrs.items():
        el.set(k, v)
    return el


def to_string(el: ET.Element) -> str:
    return ET.tostring(el, encoding="unicode")
