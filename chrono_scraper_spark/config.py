"""Engine configuration: filter pattern tables, politeness defaults, statuses.

The pattern inventories reproduce the reference's filter *semantics* (data,
not code) so decision parity is testable:

- list-page / high-value patterns:   enhanced_intelligent_filter.py:87-160
- never-show / attachment exts:      enhanced_intelligent_filter.py:146-160
- static-asset pre-filter:           wayback_machine.py:393-478
- politeness defaults:               .env.example:49-58; fetch_service.py:28-34;
                                     archive_org_client.py:23-28
- statuses:                          models/scraping.py:13-36
"""

from __future__ import annotations

# --------------------------------------------------------------------------
# Frontier row statuses (reference: ScrapePageStatus, scraping.py:13-36)
# --------------------------------------------------------------------------
STATUS_PENDING = "pending"
STATUS_COMPLETED = "completed"
STATUS_FAILED = "failed"
STATUS_FILTERED_FILE_EXTENSION = "filtered_file_extension"
STATUS_FILTERED_LIST_PAGE = "filtered_list_page"
STATUS_FILTERED_ALREADY_PROCESSED = "filtered_already_processed"
STATUS_FILTERED_ATTACHMENT_DISABLED = "filtered_attachment_disabled"
STATUS_FILTERED_SIZE_TOO_SMALL = "filtered_size_too_small"
STATUS_FILTERED_SIZE_TOO_LARGE = "filtered_size_too_large"

# --------------------------------------------------------------------------
# Never-show file extensions by category (enhanced_intelligent_filter.py:146-152)
# Checked against the URL path (query/fragment stripped), case-insensitive.
# Order matters: first category whose extension matches wins.
# --------------------------------------------------------------------------
NEVER_SHOW_EXTENSIONS: list[tuple[str, list[str]]] = [
    ("css", [".css"]),
    ("js", [".js", ".javascript"]),
    ("image", [".jpg", ".jpeg", ".png", ".gif", ".svg", ".webp", ".ico"]),
    ("media", [".mp3", ".mp4", ".avi", ".mov", ".wmv", ".flv", ".wav", ".ogg"]),
    ("archive", [".zip", ".tar", ".gz", ".rar", ".7z", ".bz2"]),
]

# Attachment extensions by category (enhanced_intelligent_filter.py:155-160)
ATTACHMENT_EXTENSIONS: list[tuple[str, list[str]]] = [
    ("pdf", [".pdf"]),
    ("doc", [".doc", ".docx", ".odt", ".rtf"]),
    ("other", [".xls", ".xlsx", ".ods", ".ppt", ".pptx", ".odp", ".txt"]),
]

# --------------------------------------------------------------------------
# List-page regex patterns by category (enhanced_intelligent_filter.py:87-124).
# Evaluated in this category order, first match wins; matched against the
# lower-cased full URL. Confidence 0.9.
# --------------------------------------------------------------------------
LIST_PATTERNS: list[tuple[str, list[str]]] = [
    ("blog", [
        r"/blog/?$", r"/posts/?$", r"/news/?$", r"/articles/?$",
        r"/blog/page/\d+", r"/posts/page/\d+", r"/news/page/\d+",
        r"/blog/\d{4}/?$", r"/posts/\d{4}/?$",
    ]),
    ("category", [
        r"/category/", r"/tag/", r"/topic/", r"/subject/",
        r"/categories/?$", r"/tags/?$", r"/topics/?$",
    ]),
    ("pagination", [
        r"/page/\d+", r"/p/\d+", r"\?page=\d+", r"&page=\d+",
        r"/\d+/?$",
        r"\?p=\d+", r"&p=\d+", r"/pages/",
    ]),
    ("archive", [
        r"/archive/", r"/archives/",
        r"/\d{4}/?$", r"/\d{4}/\d{2}/?$", r"/\d{4}/\d{2}/\d{2}/?$",
        r"/year/\d{4}", r"/month/\d{2}", r"/date/",
    ]),
    ("index", [
        r"/index\.html?$", r"/sitemap", r"/overview", r"/home/?$",
        r"/all-posts", r"/all-articles", r"/post-list", r"/article-list",
        r"/directory/", r"/listing/", r"/browse/",
    ]),
    ("search", [
        r"/search/", r"\?search=", r"\?filter=", r"\?sort=",
        r"\?category=", r"\?tag=", r"\?author=", r"\?q=",
    ]),
    ("feed", [
        r"/feed/?$", r"/rss/?$", r"/atom/?$", r"/xml/?$",
        r"/api/", r"\.xml$", r"\.json$", r"\.rss$",
    ]),
    ("admin", [
        r"/wp-admin/", r"/admin/", r"/dashboard/", r"/login",
        r"/wp-content/", r"/wp-includes/",
    ]),
]

# High-value URL patterns (enhanced_intelligent_filter.py:127-143); priority
# scores research=9 document=8 academic=9 government=8 (:468-472);
# large-content >5KB priority 7 (:486-504); institutional domains priority 8.
HIGH_VALUE_PATTERNS: list[tuple[str, list[str], int]] = [
    ("research", [r"/research/", r"/study/", r"/analysis/", r"/report/",
                  r"/whitepaper/", r"/publication/", r"/paper/"], 9),
    ("document", [r"/document/", r"/documentation/", r"/manual/", r"/guide/",
                  r"/resources/", r"/library/", r"/download/"], 8),
    ("academic", [r"/journal/", r"/thesis/", r"/dissertation/", r"/proceedings/",
                  r"/conference/", r"/symposium/", r"/workshop/"], 9),
    ("government", [r"/policy/", r"/statement/", r"/announcement/",
                    r"/press-release/", r"/regulation/", r"/law/", r"/bill/",
                    r"/act/"], 8),
]

HIGH_VALUE_LARGE_CONTENT_BYTES = 5000      # :486
INSTITUTIONAL_DOMAIN_MARKERS = [".edu/", ".gov/", ".org/", ".ac."]  # :507

# Size filter bounds (enhanced_intelligent_filter.py:402-445)
SIZE_MIN_BYTES = 1000
SIZE_MAX_BYTES = 10 * 1024 * 1024

# Heuristic list-page detection (enhanced_intelligent_filter.py:304-346)
HEURISTIC_DYNAMIC_PARAMS = ["id=", "uid=", "page=", "offset=", "limit=", "sort="]

# --------------------------------------------------------------------------
# Static-asset pre-filter at scan level (wayback_machine.py:393-478).
# These never enter the frontier at all.
# --------------------------------------------------------------------------
STATIC_ASSET_EXTENSIONS = [
    ".js", ".jsx", ".ts", ".tsx", ".mjs", ".cjs",
    ".css", ".scss", ".sass", ".less", ".styl",
    ".jpg", ".jpeg", ".png", ".gif", ".svg", ".webp", ".ico", ".icon",
    ".bmp", ".tiff", ".tif", ".psd", ".eps", ".ai", ".raw", ".heic", ".avif",
    ".woff", ".woff2", ".ttf", ".otf", ".eot",
    ".mp3", ".mp4", ".avi", ".mov", ".wmv", ".flv", ".wav", ".ogg", ".m4a",
    ".mkv", ".webm", ".m4v", ".3gp", ".aac", ".flac",
    ".zip", ".rar", ".7z", ".tar", ".gz", ".bz2", ".xz",
    ".exe", ".dmg", ".deb", ".rpm", ".msi", ".iso", ".app",
    ".xml", ".json", ".yaml", ".yml", ".toml", ".ini", ".conf", ".cfg",
    ".log", ".tmp", ".temp", ".bak", ".backup",
    ".map", ".d.ts",
]

STATIC_ASSET_MIME_PREFIXES = ["image/", "font/", "audio/", "video/"]
STATIC_ASSET_MIME_EXACT = [
    "application/javascript", "application/x-javascript", "text/javascript",
    "text/css", "application/font-woff", "application/font-woff2",
    "application/vnd.ms-fontobject", "application/zip",
    "application/x-rar-compressed", "application/octet-stream",
]

STATIC_ASSET_URL_PATTERNS = [
    "/assets/", "/static/", "/public/", "/resources/",
    "/js/", "/css/", "/images/", "/img/", "/fonts/",
    "/media/", "/uploads/", "/files/", "/downloads/",
    "/_next/static/", "/webpack/", "/build/",
]

# --------------------------------------------------------------------------
# Politeness defaults (.env.example:49-58,72; archive_org_client.py:23-28)
# --------------------------------------------------------------------------
DEFAULT_HOST_RPS = 1.0
DEFAULT_HOST_BURST = 5
DEFAULT_ROUND_SECONDS = 60.0   # one frontier round ≙ 60 s of wall-clock budget
MAX_RETRIES = 3                # scraping.py:134

# Extraction success gate (content_extraction_service.py:181-193)
MIN_WORD_COUNT = 50

# CDX scan defaults (wayback_machine.py:639-907)
CDX_ALLOWED_MIME = ["text/html", "application/pdf"]
CDX_ALLOWED_STATUS = 200
