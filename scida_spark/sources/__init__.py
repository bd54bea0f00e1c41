"""Custom file sources: npy, zarr, HDF5 and FITS. Each is a format
adapter over the shared split layer in ``convert.py``: npy and zarr
read through its Data Source reader (uid pushdown → split pruning),
HDF5 and FITS through its ``mapInArrow`` kernel. npy and zarr need only
numpy; HDF5 and FITS read with h5py / astropy, or with the h5_shim /
fits_shim test backends."""
