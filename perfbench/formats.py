"""What each doc-id-driven ``synth.build_*`` format builder must extract to.

The table is written from each format's specification and from the
builder's own docstring (which variant a doc id selects), not from the
kernels: it maps a builder to the IANA/Tika media type its bytes carry and
to the status the engine's contract gives that format (``ok`` for a parsed
document, ``unsupported`` for containers the extraction stage leaves to the
media operators, the encrypted-WordPerfect refusal).

An entry is either one ``(mime, status)`` pair, or ``(m, {r: (mime,
status)})`` when the builder rotates its variant on ``doc_id % m``.
"""

from __future__ import annotations

OK, UNSUPPORTED = "ok", "unsupported"
_MP4 = ("video/mp4", UNSUPPORTED)
_OUTLOOK = ("application/vnd.ms-outlook", OK)
_TEXT = ("text/plain", OK)
_JPEG = ("image/jpeg", OK)
_PDF = ("application/pdf", OK)
_WORD = ("application/msword", OK)

EXPECTED: dict[str, object] = {
    # documents: PDF, office suites, word processors, e-books
    "build_pdf_embedded": _PDF,
    "build_pdf_encrypted": _PDF,
    "build_pdf_images": _PDF,
    "build_ps": ("application/postscript", OK),
    "build_doc_embedded": _WORD,
    "build_doc_full": _WORD,
    "build_doc_legacy": _WORD,
    "build_docx_embedded": (
        "application/vnd.openxmlformats-officedocument.wordprocessingml.document", OK),
    "build_xlsb": ("application/vnd.ms-excel.sheet.binary.macroenabled.12", OK),
    "build_oldxls": ("application/vnd.ms-excel", OK),
    "build_ppt_old": ("application/vnd.ms-powerpoint", UNSUPPORTED),  # PP95/PP4 refusal
    "build_vsd": ("application/vnd.visio", OK),
    "build_odt": ("application/vnd.oasis.opendocument.text", OK),
    "build_odp": ("application/vnd.oasis.opendocument.presentation", OK),
    "build_ods": ("application/vnd.oasis.opendocument.spreadsheet", OK),
    "build_fodt": ("application/vnd.oasis.opendocument.text-flat-xml", OK),
    "build_rtf": ("application/rtf", OK),
    "build_wpd": (10, {0: ("application/vnd.wordperfect", UNSUPPORTED),  # encrypted
                       **{r: ("application/vnd.wordperfect", OK) for r in range(1, 10)}}),
    "build_abw_gpx": (2, {0: ("application/x-abiword", OK),
                          1: ("application/gpx+xml", OK)}),
    "build_iwork": (3, {0: ("application/vnd.apple.pages", OK),
                        1: ("application/vnd.apple.numbers", OK),
                        2: ("application/vnd.apple.keynote", OK)}),
    "build_xps_doc": ("application/vnd.ms-xpsdocument", OK),
    "build_epub": ("application/epub+zip", OK),
    "build_fb2": ("application/x-fictionbook+xml", OK),
    "build_chm": ("application/vnd.ms-htmlhelp", OK),
    # archives and packages
    "build_7z_doc": ("application/x-7z-compressed", OK),
    "build_tar": ("application/x-tar", OK),
    "build_archive": (2, {0: ("application/x-archive", OK),
                          1: ("application/x-cpio", OK)}),
    "build_arj": ("application/x-arj", OK),
    "build_lha": ("application/x-lha", OK),
    "build_cab_file": ("application/vnd.ms-cab-compressed", OK),
    "build_deb": ("application/x-debian-package", OK),
    "build_rpm": ("application/x-rpm", OK),
    "build_iso": ("application/x-iso9660-image", OK),
    "build_warc_gz": ("application/warc", UNSUPPORTED),
    # AppleSingle re-dispatches its data fork under the real name (.txt);
    # AppleDouble is the resource-fork half alone
    "build_applefile_doc": (2, {0: _TEXT, 1: ("application/applefile", OK)}),
    # compressed text: the codec is unwrapped and the payload sniffed
    "build_bz2_txt": _TEXT,
    "build_xz_txt": _TEXT,
    "build_zstd_txt": _TEXT,
    "build_lz4_txt": _TEXT,
    "build_legacy_codec_txt": _TEXT,
    "build_modern_codec_txt": _TEXT,
    # mail, calendars, contacts
    "build_eml": ("message/rfc822", OK),
    "build_mbox": ("application/mbox", OK),
    "build_msg": _OUTLOOK,
    "build_msg_attach": _OUTLOOK,
    "build_msg_deep": _OUTLOOK,
    "build_msg_nested": _OUTLOOK,
    "build_pst": ("application/vnd.ms-outlook-pst", OK),
    "build_tnef": ("application/vnd.ms-tnef", OK),
    "build_mhtml": ("multipart/related", OK),
    "build_ics": ("text/calendar", OK),
    "build_vcf": ("text/vcard", OK),
    # images
    "build_png": ("image/png", OK),
    "build_gif": ("image/gif", OK),
    "build_bmp": ("image/bmp", OK),
    "build_tiff": ("image/tiff", OK),
    "build_webp": ("image/webp", OK),
    "build_jpeg": _JPEG,
    "build_jpeg_exif": _JPEG,
    "build_jpeg_progressive": _JPEG,
    "build_heif": (2, {0: ("image/avif", OK), 1: ("image/heic", OK)}),
    "build_svg": ("image/svg+xml", OK),
    "build_metafile": (4, {0: ("image/wmf", OK), 1: ("image/wmf", OK),
                           2: ("image/emf", OK), 3: ("image/emf", OK)}),
    "build_simple_image": (7, {0: ("image/x-portable-bitmap", OK),
                               1: ("image/x-portable-graymap", OK),
                               2: ("image/x-portable-pixmap", OK),
                               3: ("image/x-portable-bitmap", OK),
                               4: ("image/x-portable-graymap", OK),
                               5: ("image/x-portable-pixmap", OK),
                               6: ("image/vnd.zbrush.pcx", OK)}),
    "build_djvu_tga": (3, {0: ("image/vnd.djvu", OK), 1: ("image/vnd.djvu", OK),
                           2: ("image/x-tga", OK)}),
    "build_dwg": ("image/vnd.dwg", OK),
    "build_design_asset": (3, {0: ("application/x-font-ttf", OK),
                               1: ("application/x-font-otf", OK),
                               2: ("image/vnd.adobe.photoshop", OK)}),
    # audio and video
    "build_wav": ("audio/x-wav", OK),
    "build_flac": ("audio/flac", OK),
    "build_flac_tags": ("audio/flac", OK),
    "build_mp3": ("audio/mpeg", OK),
    "build_mp3_id3": ("audio/mpeg", OK),
    "build_ogg": (2, {0: ("audio/vorbis", OK), 1: ("audio/opus", OK)}),
    "build_ogg_tags": (2, {0: ("audio/vorbis", OK), 1: ("audio/opus", OK)}),
    "build_midi_song": ("audio/midi", OK),
    "build_audio_header": (4, {0: ("audio/x-aiff", OK), 1: ("audio/x-aiff", OK),
                               2: ("audio/basic", OK), 3: ("audio/x-wav", OK)}),
    "build_mp4": _MP4,
    "build_mjpeg_mp4": _MP4,
    "build_h264_mp4": _MP4,
    "build_hevc_mp4": _MP4,
    "build_av1_mp4": _MP4,
    "build_media_container": (2, {0: ("video/webm", UNSUPPORTED),
                                  1: ("video/x-msvideo", UNSUPPORTED)}),
    "build_flv_file": ("video/x-flv", OK),
    "build_swf": ("application/x-shockwave-flash", OK),
    # web text and structured text
    "build_html_meta": ("text/html", OK),
    "build_jsonld_page": ("text/html", OK),
    "build_xml": ("application/xml", OK),
    "build_feed": (3, {0: ("application/rss+xml", OK),   # RSS 2.0
                       1: ("application/atom+xml", OK),
                       2: ("application/rss+xml", OK)}),  # RSS 1.0 (RDF)
    "build_sitemap": ("application/x-sitemap+xml", OK),
    "build_robots": _TEXT,
    # data, binaries, fonts and everything else
    "build_sqlite": ("application/x-sqlite3", OK),
    "build_dbf_table": ("application/x-dbf", OK),
    "build_parquet_doc": ("application/x-parquet", OK),
    "build_orc_doc": ("application/x-orc", OK),
    "build_avro_doc": ("application/avro", OK),
    "build_hdf5_file": ("application/x-hdf5", OK),
    "build_netcdf_file": ("application/x-netcdf", OK),
    "build_mat_file": ("application/x-matlab-data", OK),
    "build_tensor_artifact": (3, {0: ("application/x-npy", OK),
                                  1: ("application/x-safetensors", OK),
                                  2: ("application/x-gguf", OK)}),
    "build_bplist_doc": ("application/x-bplist", OK),
    "build_torrent_doc": ("application/x-bittorrent", OK),
    "build_javaclass": ("application/java-vm", OK),
    "build_executable": (3, {0: ("application/x-executable", OK),   # ELF
                             1: ("application/x-msdownload", OK),   # PE32+
                             2: ("application/x-mach-binary", OK)}),
    "build_lnk": ("application/x-ms-shortcut", OK),
    "build_woff_doc": (5, {0: ("application/font-woff", OK), 1: ("application/font-woff", OK),
                           2: ("application/font-woff", OK), 3: ("application/font-woff", OK),
                           4: ("application/font-woff2", OK)}),
}


def expected(builder: str, doc_id: int) -> tuple[str, str]:
    """(mime, status) the engine must report for ``builder(doc_id)``."""
    entry = EXPECTED[builder]
    if isinstance(entry[1], dict):
        m, table = entry
        return table[doc_id % m]
    return entry


_OFFICE_MARKERS = (
    "msword", "officedocument", "ms-excel", "ms-powerpoint", "opendocument",
    "visio", "wordperfect", "abiword", "vnd.apple.", "xpsdocument", "epub",
    "fictionbook", "rtf", "htmlhelp", "x-tika-msoffice",
)
_ARCHIVE_MARKERS = (
    "7z", "x-tar", "x-archive", "cpio", "arj", "lha", "cab-compressed",
    "debian-package", "x-rpm", "iso9660", "zip", "gzip", "bzip2", "xz",
    "applefile", "warc",
)
_MAIL_MARKERS = (
    "message/", "mbox", "ms-outlook", "ms-tnef", "multipart/", "text/calendar",
    "text/vcard",
)

FAMILIES = ("html", "pdf", "office", "archive", "mail", "image", "media",
            "text", "other")


def family(mime: str | None) -> str:
    """Format family of a detected media type, for per-family kernel cost."""
    m = (mime or "").lower()
    if m in ("text/html", "application/xhtml+xml"):
        return "html"
    if m == "application/pdf":
        return "pdf"
    if any(k in m for k in _MAIL_MARKERS):
        return "mail"
    if any(k in m for k in _OFFICE_MARKERS):
        return "office"
    if any(k in m for k in _ARCHIVE_MARKERS):
        return "archive"
    if m.startswith("image/"):
        return "image"
    if m.startswith(("audio/", "video/")) or m == "application/x-shockwave-flash":
        return "media"
    if m.startswith("text/") or m.endswith("+xml") or m == "application/xml":
        return "text"
    return "other"
