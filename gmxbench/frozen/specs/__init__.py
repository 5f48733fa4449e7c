from frozen.specs.arcgis import ARCGIS
from frozen.specs.fgdc import FGDC
from frozen.specs.iso import CATALOG_ROOT, ISO
from frozen.specs.model import COMPLEX_FIELDS, ISO_CONTENT_DELIM, MULTI_SUBS, SIMPLE_PROPS

SPECS = {"fgdc": FGDC, "iso": ISO, "arcgis": ARCGIS}

__all__ = [
    "CATALOG_ROOT", "COMPLEX_FIELDS", "ISO_CONTENT_DELIM", "MULTI_SUBS", "SIMPLE_PROPS", "SPECS",
]
