from .parse_fields import parse_invoice_fields, parse_invoice_text, FIELDS_SCHEMA
from .normalize import normalize_vendor_col, normalize_amount_col, vendor_block_key

__all__ = [
    "parse_invoice_fields",
    "parse_invoice_text",
    "FIELDS_SCHEMA",
    "normalize_vendor_col",
    "normalize_amount_col",
    "vendor_block_key",
]
