"""Sources & sinks (SURVEY.md §2.1 + the multimodal/crawl north-star),
all implemented from the public format specifications (no GDAL/xarray/
netCDF4/pillow in this container):

- gridded/geo: ``netcdf`` (NetCDF-3 both directions), ``hdf5``
  (NetCDF-4/HDF5 spec-subset reader incl. the ``szip`` CCSDS
  extended-Rice filter codec), ``shapefile``, ``geopackage``
  (GPKG sink + distributed GeoParquet 1.1 sink/scan).
- images (each cross-validated against the system library when
  present): ``png`` (libpng), ``jpeg`` + ``jpeg_arith`` (libjpeg,
  four entropy paths), ``webp`` (VP8L both directions) + ``vp8`` /
  ``vp8_tables`` (lossy VP8 keyframe decode, libwebp-bit-exact),
  ``gif`` (giflib), ``tiff`` (libtiff), ``bmp`` (BMP + netpbm,
  self-goldened), ``avif`` (GATED: decodes through the system libavif
  when present, named error + triage otherwise).
- audio: ``wav`` (RIFF/PCM both directions).
"""
