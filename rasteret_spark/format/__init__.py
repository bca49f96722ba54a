"""Blob containers (mini-raster, (Geo)TIFF) and the codecs behind them."""
